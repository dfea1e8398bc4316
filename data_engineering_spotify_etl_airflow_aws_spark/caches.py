"""Query-scoped lifecycle for persisted and checkpointed relations.

Several operators persist an expensive shared relation (the Jaccard
shingle base, the IVF embedding base, the MinHash band keys, the
decontamination gram base, the scale-gated shared subtrees) or cut a
plan's lineage with an eager checkpoint (the iterative graph loops, the
banded global order). The returned query plans are lazy, so an
in-function release would fire before the caller ever runs the plan.
Instead every persist goes through persist() / persist_when_scaled()
and every lineage cut through checkpoint() here, which record the
relation in ONE scope; this is the only module that persists,
unpersists or checkpoints anything.

Lifecycle:

* Each query registered with ``registry.query`` is stored in
  ``registry.QUERIES`` behind a wrapper that calls release_all() before
  it builds, so the scope holds exactly the relations of the last query
  built through ``QUERIES``.
* Direct calls between operators (``dedup_clusters`` ->
  ``ngram_jaccard_near_dup``, ``ann_recall_eval`` ->
  ``topk_similar_per_query`` / ``ivf_topk_similar``) call the
  undecorated function, so the callee never releases its caller's
  relations.
* Interactive consequence: building any query through ``QUERIES``
  releases what the previous query persisted or checkpointed, whatever
  its family. A DataFrame kept from an earlier query recomputes a
  released persist when it next runs, but FAILS on a released
  checkpoint (there is no lineage left to recompute it from): executor
  memory comes back per query, not whenever a JVM GC lets Spark's
  ContextCleaner find it.
* release_all() frees the scope at any time (bench teardown, end of a
  notebook exploration); later queries persist again on demand.

examples/interactive_session.py walks through the lifecycle in a
notebook-style session (tests/test_streaming.py runs it).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark import StorageLevel
    from pyspark.sql import DataFrame

# (frame, is_checkpoint) for each relation of the query scope
_SCOPE: list[tuple[DataFrame, bool]] = []


def persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` (PySpark's default level unless ``level`` is given)
    and record it in the query scope; returns the persisted frame."""
    out = df.persist() if level is None else df.persist(level)
    _SCOPE.append((out, False))
    return out


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now as an executor-local checkpoint, cutting
    the lineage above it, and record it in the query scope; returns the
    checkpointed frame. A fault-tolerant run would swap in the reliable
    ``df.checkpoint()`` (under ``setCheckpointDir``) here."""
    out = df.localCheckpoint()
    _SCOPE.append((out, True))
    return out


def persist_when_scaled(df: DataFrame, base: DataFrame) -> DataFrame:
    """Persist a multiply-consumed derived relation ONLY when its source
    scan ``base`` fills the cores (tables.scan_splits: at least
    ``defaultParallelism`` splits), the rule widen_small_scan uses.

    Spark re-executes every reference to an unpersisted DataFrame. At
    fixture scale that duplication is nearly FREE: the branches are
    few-split columnar scans that execute concurrently on otherwise-idle
    cores, while a persist serializes a materialization barrier and
    replaces codegen-over-parquet reads with InMemoryTableScan row
    iteration - measured as a consistent LOSS for 12 such persists in
    the r16 A/Bs (+0.06-0.55 s each, reverted). Once the source scan
    fills the cores there is no idle capacity to hide the duplication -
    every re-execution is pure added wall-clock and I/O - so the
    persist wins.

    ``base`` is any frame over the input the site names - the
    ``tables.load_table`` frame or a projection of it, but not one
    behind a persist or a checkpoint: those read no files. Under
    Spark's default 4 MB openCostInBytes a one-file table of S bytes
    fills P cores only once S reaches about 4 MB x (P - 1): ~12 MB
    under local[4], ~28 MB under local[8], ~124 MB under local[32].
    Smaller tables never persist here, on any session; the retired
    hand-counted consumer factor engaged some of them (that band is
    timed in evidence/scale_gate_band_sf1_timing.json).

    An engaged persist joins the query scope like persist(), at
    MEMORY_AND_DISK, and is released when the next query is built
    through ``registry.QUERIES`` or by release_all().
    SPARK_GRAFT_FORCE_SCALE_PERSIST=1 engages the gate unconditionally
    (used by the forced-gate oracle-parity run and the unit tests; the
    driver never sets it).
    """
    from pyspark import StorageLevel

    from .tables import scan_splits

    target = df.sparkSession.sparkContext.defaultParallelism
    forced = os.environ.get("SPARK_GRAFT_FORCE_SCALE_PERSIST", "") == "1"
    if not forced and scan_splits(base) < target:
        return df
    return persist(df, StorageLevel.MEMORY_AND_DISK)


def release_all() -> None:
    """Unpersist every persist and drop every checkpoint's blocks (the
    RDD behind its LogicalRDD plan) in the query scope. Safe to call at
    any time; later queries persist again on demand."""
    while _SCOPE:
        df, is_checkpoint = _SCOPE.pop()
        if is_checkpoint:
            df._jdf.logicalPlan().rdd().unpersist(False)
        else:
            df.unpersist()
