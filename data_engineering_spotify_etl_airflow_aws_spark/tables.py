"""Loaders for the driver-generated testdata tables (TESTDATA.md).

Normalizes the fixtures' physical timestamp quirks so every operator sees one
timestamp semantic: TimestampType UTC instants (the session timezone is pinned
to UTC in session.RUNTIME_CONFS).

- timestamp[us] parquet columns carry no timezone (isAdjustedToUTC=false), so
  Spark surfaces them as TIMESTAMP_NTZ; we cast to TimestampType, which under
  the UTC session reinterprets the same wall-clock as a UTC instant — exactly
  how DuckDB's epoch_us() treats its naive TIMESTAMP, so oracles agree.
- timestamp[ns] columns (earlier fixture generations) are only readable via
  the nanosAsLong escape hatch; we convert the long back to TimestampType
  with microsecond truncation (matching DuckDB's ns->us conversion).

load_table() applies the needed session confs defensively because the
correctness driver hands us a session we didn't build.

One scale rule, probed by scan_splits(): an input fills the cores when
its source scan has at least ``defaultParallelism`` splits.
widen_small_scan() fans out a scan that does not;
caches.persist_when_scaled() persists a shared relation whose base
scan does.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from .session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as timestamp[ns] -> read as long (nanos since epoch)
_NANOS_COLS = {"events": ("ts",)}


def _layout(path: str) -> tuple[int, ...] | None:
    """Physical-layout fingerprint of a parquet path: (size, mtime) for a
    file, (file count, total size, max mtime) for a directory. Rewriting
    the table changes it; None when the path is not on the local
    filesystem."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        n = size = mtime = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                fst = os.stat(os.path.join(root, f))
                n, size = n + 1, size + fst.st_size
                mtime = max(mtime, fst.st_mtime_ns)
        return (n, size, mtime)
    except OSError:
        return None


def _local_path(uri: str) -> str:
    """Filesystem path of a ``file:`` URI as ``inputFiles()`` reports
    it; "" (which has no layout) for any other scheme."""
    u = urlparse(uri)
    return url2pathname(u.path) if u.scheme == "file" else ""


def _memo_key(spark: SparkSession, path: str) -> tuple:
    """(applicationId, path, layout): the key of the schema memo below."""
    return (spark.sparkContext.applicationId, path, _layout(path))


# Per-session memo of inferred parquet schemas (see load_table). Holds
# the StructType only - never a DataFrame: one DataFrame object handed
# to two loads inside one query would give a self-join shared
# attribute ids.
_SCHEMA_MEMO: dict[tuple, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    # spark.read.parquet infers the schema with one Spark job per call
    # (~80-90 ms at sf0.01); with the schema known, the read launches no
    # job. The first load of each table in a session still infers.
    # A path without a readable layout is never memoized: a rewrite of it
    # could not be told from the old file.
    key = _memo_key(spark, path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key[-1] is not None:
            _SCHEMA_MEMO[key] = schema
    else:
        df = spark.read.schema(schema).parquet(path)
    types = {f.name: f.dataType for f in schema.fields}
    for col in _NANOS_COLS.get(name, ()):
        if isinstance(types.get(col), LongType):
            # Floor division in exact long arithmetic (`div` truncates toward
            # zero, which would be off by 1µs for pre-1970 negative nanos;
            # float division would lose precision past 2^53). pmod keeps the
            # remainder non-negative, matching DuckDB's floor-based epoch_us.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000L)) div 1000L")
                ),
            )
    # NTZ -> UTC instant (no-op on the wall-clock under the UTC session; see
    # module docstring). Cast keeps the projection narrow and codegen-able.
    ntz_cols = [c for c, t in types.items() if isinstance(t, TimestampNTZType)]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (catalog-scan analog of
    the reference's Glue Crawler + Athena tier; SURVEY.md S4)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Per-session memo of scan split counts (see scan_splits). Keyed on the
# applicationId, each input file with its _layout, and the parallelism,
# so a rewritten table probes again; holds ONE int of physical-layout
# metadata per input - never query results.
_SCAN_SPLITS_MEMO: dict[tuple, int] = {}


def scan_splits(df: DataFrame) -> int:
    """Split count of a plain parquet scan of ``df``'s input files,
    memoized per session; 0 for a frame that reads no files.

    This is the one probe behind both scale gates. An input *fills the
    cores* when its source scan has at least ``defaultParallelism``
    splits: widen_small_scan fans out a scan that does not, and
    caches.persist_when_scaled persists a shared relation whose base
    does. The count is physical-layout metadata (file count x sizes x
    maxPartitionBytes), constant for a layout within a session, so it
    is memoized like Spark's own FileIndex cache: an unmemoized
    ``getNumPartitions()`` costs ~20-60 ms of driver time inside the
    query's build. A file without a readable layout is never memoized.

    The miss counts a fresh scan of the files, never ``df``'s own
    partitioning, so a widened or repartitioned frame reports the
    splits of the scan under it.
    """
    spark = df.sparkSession
    files = sorted(df.inputFiles())
    if not files:
        return 0
    layouts = tuple(_layout(_local_path(f)) for f in files)
    key = (
        spark.sparkContext.applicationId,
        tuple(files),
        layouts,
        spark.sparkContext.defaultParallelism,
    )
    n = _SCAN_SPLITS_MEMO.get(key)
    if n is None:
        scan = spark.read.schema(StructType()).parquet(*files)
        n = scan.rdd.getNumPartitions()
        if None not in layouts:
            _SCAN_SPLITS_MEMO[key] = n
    return n


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Fan a small scan out to the session's parallelism before CPU-heavy
    per-row work (regex tokenization, shingling, n-gram building).

    A small parquet fixture is ONE split (single row group), so without
    this the whole map stage runs on one core while the rest idle -
    measured 3.5s -> 1.3s for the Jaccard shingle base at sf0.1 on 32
    cores. A scan that fills the cores (see scan_splits; a one-file
    table needs about 4 MB x (P - 1) bytes under Spark's default
    openCostInBytes) passes through, as does a frame that reads no
    files, so the shuffle only exists in exactly the regime where it
    is free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if 0 < scan_splits(df) < target:
        return df.repartition(target)
    return df
