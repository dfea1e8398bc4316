"""Central registry mapping query names to (Spark callable, DuckDB oracle SQL).

Every operator module registers its public queries here with the @query
decorator; __spark_entry__.queries()/oracle_sql() read these dicts. A query
registered without an oracle gets the driver's weaker rows-only check (used
only for genuinely non-SQL-expressible ops such as LSH approximations).

Determinism contract for oracle-checked queries (driver compares row count +
schema + order-insensitive value hash between Spark and DuckDB):
  * every computed column is aliased identically on both sides;
  * float aggregates go through exact DECIMAL sums, then one deterministic
    decimal->double conversion (bit-identical in both engines);
  * LIMIT/top-k always rides a total order (unique tiebreaker columns);
  * timestamps are emitted as DATE or formatted strings, never raw instants.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TYPE_CHECKING

from . import caches

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``. QUERIES holds a wrapper that first
    releases the previous query's persisted relations (caches.py); the
    decorator returns ``fn`` itself, so a direct call from another
    operator keeps its caller's relations."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")

        @functools.wraps(fn)
        def scoped(*args, **kwargs):
            caches.release_all()
            return fn(*args, **kwargs)

        QUERIES[name] = scoped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
