"""Mirror of the driver's correctness gate: every registered query with an
oracle must match DuckDB on row count, column names, and an order-insensitive
multiset of normalized values at sf=0.01.

Stricter than the driver in one way: it also asserts rows>0 for most queries
so a parity "pass" can't be an accidentally-empty result (allowlist below for
queries whose correct answer may legitimately be empty).

Scale-factor evidence beyond this suite's sf0.01: the full registry at
sf0.001 (near-empty groups, fixed-count picks larger than the corpus,
degenerate statistics) is the opt-in `test_parity_sf0001.py` (green r7
one-off and r8 standing run); the sf0.1 float-tie risk class is covered
by the opt-in `test_parity_sf01.py`, and shuffle-partition independence
by the opt-in `test_partition_invariance.py`. All three opt-in sweeps
append their outcomes to the repo-root SWEEPS.json evidence log.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark import registry

from .conftest import SF_CORRECT

engine.load_all_operators()

MAY_BE_EMPTY = {"anti_join_not_exists", "embedding_near_dup_pairs"}


def test_may_be_empty_names_are_registered():
    """A dead allowlist entry could silently mask an accidentally-empty
    result if a future query reuses the name (round-1 ADVICE)."""
    unknown = MAY_BE_EMPTY - set(registry.QUERIES)
    assert not unknown, f"MAY_BE_EMPTY lists unregistered queries: {unknown}"


def normalize(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def _spark_type_family(dt: str) -> str:
    """Collapse a Spark dtype string into the type family the driver's
    value-hash discriminates on (int widths <=64 collapse; int128 does not)."""
    dt = dt.lower()
    if dt.startswith("array<") and dt.endswith(">"):
        return f"array<{_spark_type_family(dt[6:-1])}>"
    if dt.startswith("decimal"):
        return "decimal"
    return {
        "tinyint": "i64", "smallint": "i64", "int": "i64", "bigint": "i64",
        "float": "f64", "double": "f64",
        "string": "str", "varchar": "str",
        "date": "date",
        "timestamp": "ts", "timestamp_ntz": "ts",
        "boolean": "bool", "binary": "bytes",
    }.get(dt, dt)


def _duck_type_family(dt) -> str:
    """Same collapse for DuckDB types. HUGEINT (int128) maps to its own
    family on purpose: DuckDB types bare sum(<int>) as HUGEINT, which the
    driver's hash distinguishes from Spark's BIGINT even when values are
    equal (the round-2 hash-fail root cause). Oracles must CAST to BIGINT."""
    dt = str(dt).upper()
    if dt.endswith("[]"):
        return f"array<{_duck_type_family(dt[:-2])}>"
    if dt.startswith("DECIMAL"):
        return "decimal"
    return {
        "TINYINT": "i64", "SMALLINT": "i64", "INTEGER": "i64", "BIGINT": "i64",
        "UTINYINT": "i64", "USMALLINT": "i64", "UINTEGER": "i64",
        "UBIGINT": "u64", "HUGEINT": "i128",
        "FLOAT": "f64", "REAL": "f64", "DOUBLE": "f64",
        "VARCHAR": "str", "DATE": "date",
        "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
        "TIMESTAMP WITH TIME ZONE": "ts",
        "BOOLEAN": "bool", "BLOB": "bytes",
    }.get(dt, dt.lower())


def rows_to_multiset(col_names, rows):
    """Sort columns by name (driver semantics), normalize values, return a
    sorted list of tuples for order-insensitive comparison."""
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def oracle_names():
    return sorted(registry.ORACLES)


@pytest.mark.parametrize("name", oracle_names())
def test_oracle_parity(name, spark, duck_correct):
    spark_df = registry.QUERIES[name](spark, SF_CORRECT)
    spark_cols = spark_df.columns
    spark_rows = spark_df.collect()

    rel = duck_correct.execute(registry.ORACLES[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )

    # Type fingerprint: the driver's value-hash discriminates on result
    # representation (DuckDB HUGEINT reaches the hash differently from
    # Spark's int64 even for equal values), so a dtype-family mismatch here
    # means a driver hash-fail even if the normalized values below compare
    # equal. Round-3 gate added after two such failures shipped in round 2.
    duck_rel = duck_correct.sql(registry.ORACLES[name])
    duck_fams = {
        c: _duck_type_family(t) for c, t in zip(duck_rel.columns, duck_rel.types)
    }
    spark_fams = {c: _spark_type_family(t) for c, t in spark_df.dtypes}
    type_mismatch = {
        c: (spark_fams[c], duck_fams.get(c))
        for c in spark_fams
        if spark_fams[c] != duck_fams.get(c)
    }
    assert not type_mismatch, (
        f"{name}: dtype-family mismatch (spark, duck): {type_mismatch}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    if name not in MAY_BE_EMPTY:
        assert len(spark_rows) > 0, f"{name}: empty result can't validate anything"

    s = rows_to_multiset(spark_cols, [tuple(r) for r in spark_rows])
    d = rows_to_multiset(duck_cols, duck_rows)
    if s != d:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_audit_window_pinned():
    """The driver hash-audits only the first 50 registered queries; the
    computed window (never-audited > oldest-evidence) must hold
    those slots (round-2 VERDICT item #1, rule computed since round 7)."""
    assert len(engine.AUDIT_FIRST) == engine.AUDIT_WINDOW == 50
    names = list(registry.QUERIES)
    assert names[: len(engine.AUDIT_FIRST)] == engine.AUDIT_FIRST


def test_rows_only_queries_run(spark):
    """Queries without oracles still must run and return a stable schema."""
    for name in sorted(set(registry.QUERIES) - set(registry.ORACLES)):
        df = registry.QUERIES[name](spark, SF_CORRECT)
        assert df.columns, name
        df.limit(5).collect()


def test_sf01_at_risk_names_are_registered():
    """The sf0.1 suite is opt-in (skipped by default), so a renamed query
    could leave a dead AT_RISK entry that silently drops its 10x-scale
    coverage; validate the list in the always-on suite."""
    from .test_parity_sf01 import AT_RISK

    unknown = set(AT_RISK) - set(registry.QUERIES)
    assert not unknown, f"AT_RISK lists unregistered queries: {unknown}"
    assert len(AT_RISK) == len(set(AT_RISK)), "duplicate AT_RISK entries"
