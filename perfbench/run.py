"""Engine benchmark: one closed-loop client against a ``local[nproc]`` session.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload chart_etl|registry \
        --seed N --seconds S --trace 0|1

One process issues one operation at a time. A run:

1. resets the benchmark's state directory (``.bench_state/<workload>``),
   to which every engine fixture path under ``/tmp/spark_graft_*`` is
   redirected, so every run starts from the same clean state;
2. sets up once, cold: JVM launch and session start, warmup queries and
   fixture preparation, from that clean state; this is ``setup_s``;
3. runs one untimed pass of the workload's operations, so codegen and
   the JIT are warm (the JIT keeps speeding passes up for a few more);
4. runs ``round(--seconds / TIMED_PASS_S)`` timed passes, at least
   ``MIN_TIMED_PASSES``, so that each operation's latency is a min-of-N.
   The count depends on ``--seconds`` only, not on how fast the host is,
   so every run does the same work and warms the JIT as far.
   A pass runs every operation once, in an order drawn from the seed;
   each operation's output is checked outside its timed window.

The interpreter runs with ``PYTHONHASHSEED=0`` (the script re-executes
itself to set it), so a set of strings that plan construction iterates
over comes out in the same order in every run.

End-to-end metrics (``--trace 0``), those of the result line first:

* ``wall_s``         one pass's summed latency, each operation at its
                     fastest timed run (min-of-N per operation);
* ``setup_s``        the cold set-up;

and in the record line only, because between runs of the same code on a
shared host they spread by more than a regression bound can allow:

* ``latency_p50_s``  median latency of all timed operations of the run
                     (~17% between quartiles on ``registry``, whose
                     sub-second queries feel every change in host speed);
* ``peak_rss_mb``    peak RSS of the driver JVM plus its Python workers
                     during the timed passes (maximum heap: ``DRIVER_MEM``;
                     the heap grows by a timing-driven G1 policy, ~20%);
* ``daily_run_s`` (``chart_etl`` only), ``latency_p90_s`` (only when at
  least ``P90_MIN_OPS`` operations were timed) and ``error_rate``.

``--trace 1`` installs the layer tracer (``tracer.py``) for the timed
passes and reports their per-layer metrics, and the split of the cold
set-up into ``session.*``; one untraced pass before and one after the
traced ones give ``trace.overhead_frac``.

Standard output: a record line with the host, every metric above and
each operation's timed latencies, then, as the last line,
the ``{"correct", "attempted", "failed", "metrics"}`` result.
Spark's own output goes to standard error. Exit code 0 when the run
completed (correct or not), 2 on a usage or checkout error.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

PKG = "data_engineering_spotify_etl_airflow_aws_spark"
WORKLOADS = ("chart_etl", "registry")
MIN_TIMED_PASSES = 2
# A pass's nominal length in seconds; ``--seconds`` buys
# ``round(seconds / TIMED_PASS_S)`` timed passes.
TIMED_PASS_S = 8.0
DRIVER_MEM = "2g"
P90_MIN_OPS = 100
END_TO_END = {"wall_s": "s", "setup_s": "s"}
T0 = time.perf_counter()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    xs = sorted(values)
    rank = -(-round(q * 1000) * len(xs) // 1000)  # ceil(q * n) without float error
    return xs[max(rank, 1) - 1]


def timed_pass_count(seconds: float) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / TIMED_PASS_S))


def fastest_pass(passes: list[list[tuple[str, float]]]) -> list[float]:
    """One pass's operation latencies, each operation (names are unique
    within a pass) at its fastest timed run - the per-query min-of-N
    ``bench.py`` also uses - so one slow outlier or a still-warming pass
    does not move them."""
    fastest: dict[str, float] = {}
    for p in passes:
        for name, dt in p:
            fastest[name] = min(dt, fastest.get(name, dt))
    return list(fastest.values())


def mean_pass_s(passes: list[list[tuple[str, float]]]) -> float:
    """Mean over ``passes`` of each pass's summed operation latency."""
    return statistics.fmean(sum(dt for _, dt in p) for p in passes)


def workload_metrics(fastest: list[float], latencies: list[float], setup_s: float,
                     peak_rss_mb: float, attempted: int, failed: int,
                     daily_runs: list[float]) -> dict[str, float]:
    """Every end-to-end metric of one run, by name. ``fastest`` is
    ``fastest_pass``; ``latencies`` every timed operation. ``latency_p90_s``
    needs at least ``P90_MIN_OPS`` of them, so that ten or more lie beyond
    it; ``daily_run_s`` exists only where daily runs were timed."""
    out = {
        "wall_s": sum(fastest),
        "latency_p50_s": statistics.median(latencies),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "error_rate": failed / attempted,
        "timed_ops": len(latencies),
    }
    if len(latencies) >= P90_MIN_OPS:
        out["latency_p90_s"] = percentile(latencies, 0.9)
    if daily_runs:
        out["daily_run_s"] = statistics.median(daily_runs)
    return out


def result_line(attempted: int, failed: int, metrics: dict[str, float],
                units: dict[str, str]) -> str:
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    })


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [root], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree += frontier
    return tree


def alive(pid: int) -> bool:
    """Whether ``pid`` is running (a zombie has already ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


class RssSampler:
    """Peak resident memory of the driver JVM plus the Python workers it
    forks, sampled from /proc while ``active`` is set."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root, self.interval = root_pid, interval
        self.peak_kb = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self):
        pids, refreshed = [self.root], 0.0
        while not self._stop.wait(self.interval):
            if not self.active:
                continue
            if time.monotonic() - refreshed > 1.0:
                pids, refreshed = process_tree(self.root), time.monotonic()
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Context:
    """What operations share: the session, the state dir, a DuckDB handle."""

    def __init__(self, state: Path):
        self.state = state
        self.spark = None
        self._duck = None

    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
        return self._duck


def pin_environment(root: Path, state: Path) -> int:
    """Fix every host-dependent knob the engine reads; return the cores.
    Spark scratch, JVM temp files and Python temp files all go under
    ``state``, and the driver heap is fixed."""
    cores = len(os.sched_getaffinity(0))
    tmp = state / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": str(state / "local"),
        "SPARK_LOCAL_DIRS": str(state / "local"),
        "SPARK_GRAFT_JAVA_EXTRA": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # spark-submit's launcher JVM, which builds the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    for var in ("SPARK_GRAFT_FORCE_SCALE_PERSIST", "SPARK_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_CODEGEN_CACHE", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    return cores


def redirect_fixture_roots(fixtures: Path) -> None:
    """Point every engine path constant under /tmp/spark_graft_* into the
    benchmark's state directory (the engine reads them at call time)."""
    prefix = "/tmp/spark_graft_"
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if isinstance(val, (str, Path)) and str(val).startswith(prefix):
                setattr(mod, attr, type(val)(fixtures / str(val)[len(prefix):]))


def host_record(spark, cores: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cores,
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_mem": DRIVER_MEM,
    }


class Runner:
    def __init__(self, root: Path, workload: str, seed: int, seconds: float, trace: bool):
        self.root, self.workload_name = root, workload
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.state = root / ".bench_state" / workload
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.tracer = None
        self.op_index = 0
        self.hygiene_s = 0.0

    @staticmethod
    def log(msg: str):
        print(f"perfbench: [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def setup(self, ctx, wl, get_spark) -> dict[str, float]:
        """The cold set-up: JVM launch and session start, warmups and
        fixture preparation, from the clean state; returns the wall time
        of each part."""
        from data_engineering_spotify_etl_airflow_aws_spark import caches, registry
        from perfbench.workloads import WARMUPS

        t0 = time.perf_counter()
        ctx.spark = get_spark(app_name=f"perfbench-{wl.name}")
        t1 = time.perf_counter()
        for q in WARMUPS:
            registry.QUERIES[q](ctx.spark, wl.sf_dir).collect()
        t2 = time.perf_counter()
        wl.prepare_fixtures(ctx.spark)
        ctx.spark.catalog.clearCache()
        caches.release_all()
        t3 = time.perf_counter()
        return {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1,
                "session.fixture_prep_s": t3 - t2}

    def run_op(self, ctx, op) -> float | None:
        """Run one operation; return its latency, or None if it raised or
        returned a wrong result (both count as failed)."""
        from data_engineering_spotify_etl_airflow_aws_spark import caches

        self.attempted += 1
        self.op_index += 1
        tr = self.tracer
        try:
            op.prepare(ctx)
            if tr:
                bgroup = tr.group(self.op_index, "b")
                tr.begin_build()
            t0 = time.perf_counter()
            df = op.build(ctx)
            t1 = time.perf_counter()
            if tr:
                tr.end_build()
                agroup = tr.group(self.op_index, "a")
            result = op.act(ctx, df)
            t2 = time.perf_counter()
            if tr:
                returned_ms = int(time.time() * 1000)
                tr.group(0, "harness")
                qe = df._jdf.queryExecution() if df is not None else None
                tr.finish_op(bgroup, agroup, t1 - t0, t2 - t1, qe, op.rows(result), returned_ms)
            problem = op.check(ctx, result)
        except Exception:  # counted as failed; the run goes on
            self.failed += 1
            self.log(f"{op.name} raised:\n{traceback.format_exc()[-3000:]}")
            return None
        finally:
            h0 = time.perf_counter()
            caches.release_all()
            if tr:
                tr.end_build()  # no-op unless the build raised
                tr.t["caches.release_s"] += time.perf_counter() - h0
            ctx.spark.catalog.clearCache()
            self.hygiene_s += time.perf_counter() - h0
        if problem:
            self.failed += 1
            self.log(f"{op.name} wrong output: {problem}")
            return None
        return t2 - t0

    def run_pass(self, ctx, ops) -> list[tuple[str, float]]:
        """Every operation once, in seeded order; (name, latency) of each
        that succeeded. A JVM GC after the pass keeps deferred shuffle
        cleanup out of the next pass's timed windows."""
        ops = list(ops)
        self.rng.shuffle(ops)
        done = []
        for op in ops:
            dt = self.run_op(ctx, op)
            if dt is not None:
                done.append((op.name, dt))
        h0 = time.perf_counter()
        ctx.spark.sparkContext._jvm.System.gc()
        self.hygiene_s += time.perf_counter() - h0
        return done

    def timed_passes(self, ctx, wl, sampler=None) -> list[list[tuple[str, float]]]:
        passes = []
        for _ in range(timed_pass_count(self.seconds)):
            if sampler:
                sampler.active = True
            passes.append(self.run_pass(ctx, wl.ops))
            if sampler:
                sampler.active = False
        return passes

    def run(self) -> int:
        shutil.rmtree(self.state, ignore_errors=True)
        cores = pin_environment(self.root, self.state)
        sys.path.insert(0, str(self.root))
        import data_engineering_spotify_etl_airflow_aws_spark as engine
        from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark

        from perfbench import workloads

        engine.load_all_operators()
        redirect_fixture_roots(self.state / "fixtures")
        wl = workloads.Workload(self.workload_name, self.root, self.seed)
        ctx = Context(self.state)
        self.log("engine loaded")
        try:
            split = self.setup(ctx, wl, get_spark)
            host = host_record(ctx.spark, cores)
            self.log(f"host {json.dumps(host)}; setup {split}")

            self.run_pass(ctx, wl.ops)  # untimed warm pass
            self.log("warm pass done")
            if self.failed:
                self.log(f"{self.failed} operations failed in the warm pass")
            self.attempted = self.failed = 0
            self.hygiene_s = 0.0
            if self.trace:
                record, metrics, units = self.traced(ctx, wl, cores, split)
            else:
                record, metrics, units = self.untraced(ctx, wl, split)
            self.log("timed passes done")
        finally:
            self.shutdown(ctx)
            self.log("shut down")
        print(json.dumps({"workload": self.workload_name, "seed": self.seed,
                          "host": host, **record}))
        print(result_line(self.attempted, self.failed, metrics, units))
        return 0

    def untraced(self, ctx, wl, split):
        with RssSampler(ctx.spark.sparkContext._gateway.proc.pid) as sampler:
            passes = self.timed_passes(ctx, wl, sampler)
        named = [p for ps in passes for p in ps]
        latencies = [d for _, d in named] or [float("nan")]
        daily = [d for n, d in named if n == "daily_run"]
        metrics = workload_metrics(fastest_pass(passes) or [float("nan")], latencies,
                                   sum(split.values()),
                                   sampler.peak_kb / 1024.0, self.attempted, self.failed, daily)
        by_op: dict[str, list[float]] = {}
        for n, d in named:
            by_op.setdefault(n, []).append(round(d, 4))
        record = {"passes": len(passes), "metrics": metrics, "setup": split, "op_latency_s": by_op}
        return record, metrics, END_TO_END

    def traced(self, ctx, wl, cores, split):
        from perfbench.tracer import LAYER_UNITS, Tracer

        untraced = [self.run_pass(ctx, wl.ops)]
        self.hygiene_s = 0.0
        self.tracer = Tracer(ctx.spark, cores)
        self.tracer.install()
        try:
            passes = self.timed_passes(ctx, wl)
        finally:
            self.tracer.uninstall()
        layers = self.tracer.metrics(len(passes))
        layers["harness.hygiene_s"] = self.hygiene_s / len(passes)
        layers.update(split)
        self.tracer = None
        untraced.append(self.run_pass(ctx, wl.ops))  # one untraced pass each side
        layers["trace.overhead_frac"] = mean_pass_s(passes) / mean_pass_s(untraced) - 1
        return {"passes": len(passes), "layers": layers}, layers, LAYER_UNITS

    def shutdown(self, ctx):
        """Stop the session, the JVM and every Python worker, and wait
        until each process has ended."""
        from pyspark import SparkContext

        from data_engineering_spotify_etl_airflow_aws_spark import caches

        if ctx._duck is not None:
            ctx._duck.close()
        if ctx.spark is None:
            return
        for q in ctx.spark.streams.active:
            q.stop()
        caches.release_all()
        gateway = SparkContext._gateway
        proc = gateway.proc
        tree = process_tree(proc.pid)
        ctx.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        deadline = time.monotonic() + 10
        for pid in tree[1:]:
            while alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if alive(pid):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = Path.cwd()
    need = (root / PKG / "__init__.py", root / "examples" / "daily_pipeline.py")
    if not all(p.is_file() for p in need):
        print(f"perfbench: {root} is not a checkout of the engine "
              f"(missing {PKG}/ or examples/)", file=sys.stderr)
        return 2
    return Runner(root, args.workload, args.seed, args.seconds, bool(args.trace)).run()


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
