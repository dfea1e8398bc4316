"""Output checks: order-insensitive row digests and the chart oracles.

Rows are normalized exactly as the oracle-parity suite normalizes them
(``tests/test_oracle_parity.normalize``): columns sorted by name,
decimals as floats, NaN as a string, timestamps and dates as ISO
strings, arrays as tuples. The sorted multiset is hashed, so a digest
matches only when the values, the row count and the column names match.
"""

from __future__ import annotations

import csv
import datetime
import decimal
import hashlib
import math
from pathlib import Path


def normalize(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(normalize(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for t in norm:
        h.update(repr(t).encode())
    return f"{len(norm)}:{h.hexdigest()[:24]}"


def df_digest(columns: list[str], rows) -> str:
    return digest(columns, [tuple(r) for r in rows])


# ---------------------------------------------------------------------------
# Chart oracles: DuckDB over the raw inbox, via the engine's own oracle CTE
# (``pipeline.transforms._ORACLE_BASE``) pointed at the inbox under test.


def inbox_oracle(con, inbox: Path, select: str):
    """(columns, rows) of ``_ORACLE_BASE + select`` over ``inbox``."""
    from data_engineering_spotify_etl_airflow_aws_spark.pipeline.transforms import (
        INBOX_DIR,
        _ORACLE_BASE,
    )

    sql = _ORACLE_BASE.replace(str(INBOX_DIR), str(inbox)) + select
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def parquet_rows(con, path: Path):
    """(columns, rows) of a Spark parquet output directory, honouring
    ``key=value`` partition directories."""
    rel = con.execute(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true, "
        "hive_types_autocast=false)"
    )
    cols = [d[0] for d in rel.description]
    return cols, rel.fetchall()


def csv_rows(path: Path):
    """(columns, rows) of a Spark CSV output directory (header per part,
    empty field = null), every value a string."""
    cols: list[str] = []
    rows: list[tuple] = []
    for part in sorted(path.glob("part-*.csv")):
        with part.open(newline="") as fh:
            reader = csv.reader(fh)
            header = next(reader, None)
            if header is None:
                continue
            cols = header
            rows.extend(tuple(v if v != "" else None for v in r) for r in reader)
    return cols, rows


def same_as_csv(oracle_cols, oracle_rows, csv_cols, csv_rows_) -> bool:
    """Compare oracle rows with rows read back from a CSV sink: numeric
    oracle columns are compared as floats parsed from the CSV text, all
    other columns as their ISO/string form."""
    if sorted(oracle_cols) != sorted(csv_cols) or len(oracle_rows) != len(csv_rows_):
        return False
    pos = [csv_cols.index(c) for c in oracle_cols]
    numeric = [
        any(isinstance(r[i], (int, float, decimal.Decimal)) and not isinstance(r[i], bool)
            for r in oracle_rows)
        for i in range(len(oracle_cols))
    ]

    def conv(v, is_num):
        if v is None:
            return None
        return float(v) if is_num else str(v)

    left = [tuple(conv(normalize(r[i]), numeric[i]) for i in range(len(r))) for r in oracle_rows]
    right = [tuple(conv(r[p], numeric[i]) for i, p in enumerate(pos)) for r in csv_rows_]
    key = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
    return sorted(left, key=key) == sorted(right, key=key)
