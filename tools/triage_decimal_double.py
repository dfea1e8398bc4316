"""Triage every DuckDB-oracle decimal->double conversion site.

Background: once a decimal's UNSCALED value crosses 2^53, DuckDB's
NATIVE DECIMAL->DOUBLE and HUGEINT->DOUBLE casts are not correctly
rounded (measured 1 ulp high at sf1 on pricing_summary; the r6
int128->double truncation family; 2476 of 16k and 15 of 4k adversarial
values in evidence/decimal_double_rounding_probe.json), while its
VARCHAR->DOUBLE parser is. So every oracle `CAST(<wide> AS DOUBLE)`
takes the VARCHAR hop. The Spark side converts natively: its cast is
correctly rounded (tests/test_accumulator_overflow_behavior.py).

Balanced-paren extraction of every `CAST(<inner> AS DOUBLE)` in
registry.ORACLES; the inner is HOP-safe when it is itself a
`CAST(... AS VARCHAR)`, suspect when it mentions DECIMAL( / sum( /
HUGEINT, or names an alias defined as an un-narrowed sum.

Usage: python tools/triage_decimal_double.py [--json evidence/...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_engineering_spotify_etl_airflow_aws_spark as engine

_AS_DOUBLE = re.compile(r"AS\s+DOUBLE\s*\)", re.I)


def _extract_cast_inner(sql: str, close_idx: int) -> str | None:
    """Given the index of the `)` that closes `CAST(... AS DOUBLE)`,
    walk back to the matching `CAST(` and return the inner expression."""
    depth = 0
    i = close_idx
    while i >= 0:
        c = sql[i]
        if c == ")":
            depth += 1
        elif c == "(":
            depth -= 1
            if depth == 0:
                start = sql[:i].upper().rstrip()
                if start.endswith("CAST"):
                    inner = sql[i + 1 : close_idx]
                    # strip the trailing "AS DOUBLE"
                    return re.sub(r"\s+AS\s+DOUBLE\s*$", "", inner, flags=re.I)
                return None
        i -= 1
    return None


_SQL_TYPE_WORDS = {
    "bigint", "integer", "int", "varchar", "double", "hugeint", "decimal",
    "date", "boolean", "smallint", "tinyint", "float", "real", "text",
}

def _match_paren(s: str, open_idx: int) -> int | None:
    """Index of the `)` matching the `(` at open_idx, or None."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return None


def _wide_oracle_aliases(sql: str) -> set[str]:
    """Aliases typed HUGEINT/DECIMAL by DuckDB: un-narrowed sum(...) —
    plain, FILTERed, or windowed — and explicit DECIMAL casts. Balanced-
    paren parsing, not depth-limited regex: the r15 float32 false
    positive (embedding_dim_stats' `unnest(...) AS val` matched a lazy
    `sum(...[^;]*?) AS val` pattern) and the dow_seasonality false
    negative (sum nested three parens deep) were both regex-depth bugs."""
    wide: set[str] = set()
    narrowed: set[str] = set()
    for m in re.finditer(r"\bsum\s*\(", sql, re.I):
        close = _match_paren(sql, m.end() - 1)
        if close is None:
            continue
        j = close + 1
        # skip any FILTER (...) / OVER (...) clauses
        while True:
            mo = re.match(r"\s+(?:FILTER|OVER)\s*\(", sql[j:], re.I)
            if not mo:
                break
            oc = _match_paren(sql, j + mo.end() - 1)
            if oc is None:
                break
            j = oc + 1
        ma = re.match(r"\s+AS\s+(\w+)", sql[j:], re.I)
        if not ma:
            continue
        w = ma.group(1)
        if w.lower() not in _SQL_TYPE_WORDS:
            wide.add(w)
            continue
        # `sum(...) AS <type>) [AS alias]` — the sum sits inside a CAST;
        # an exact-int64/varchar narrowing makes the alias non-wide
        mn = re.match(
            r"\s+AS\s+(BIGINT|INTEGER|INT|VARCHAR)\s*\)\s*AS\s+(\w+)",
            sql[j:],
            re.I,
        )
        if mn and mn.group(2).lower() not in _SQL_TYPE_WORDS:
            narrowed.add(mn.group(2))
    for m in re.finditer(r"AS\s+DECIMAL\s*\([^)]*\)\s*\)\s+AS\s+(\w+)",
                         sql, re.I | re.S):
        if m.group(1).lower() not in _SQL_TYPE_WORDS:
            wide.add(m.group(1))
    return wide - narrowed


def scan_oracle_side() -> list[dict]:
    from data_engineering_spotify_etl_airflow_aws_spark import registry

    engine.load_all_operators()
    sites: list[dict] = []
    for name in sorted(registry.ORACLES):
        sql = registry.ORACLES[name]
        for m in _AS_DOUBLE.finditer(sql):
            # m spans ") AS DOUBLE )"; the close paren of the CAST is the last
            close = m.end() - 1
            inner = _extract_cast_inner(sql, close)
            if inner is None:
                continue
            inner_stripped = inner.strip()
            if re.match(r"CAST\s*\(.*AS\s+VARCHAR\s*\)\s*$",
                        inner_stripped, re.I | re.S):
                kind = "hop"
            elif re.match(r"CAST\s*\(.*AS\s+(BIGINT|INTEGER|INT)\s*\)\s*$",
                          inner_stripped, re.I | re.S):
                # explicit exact-int64 narrowing: int64->double is
                # correctly rounded by spec in both engines (JLS
                # long->double; hardware i64->f64) — out of class
                kind = "int_narrowed"
            elif re.search(r"DECIMAL\s*\(|HUGEINT|\bsum\s*\(",
                           inner_stripped, re.I):
                kind = "wide_native"  # DuckDB native wide->double: suspect
            elif re.fullmatch(r"[A-Za-z_][\w.]*", inner_stripped) and (
                inner_stripped.split(".")[-1] in _wide_oracle_aliases(sql)
            ):
                # CTE-alias blindness: the cast target is a bare
                # identifier whose definition elsewhere in the SQL is an
                # un-narrowed sum(...)/DECIMAL cast — HUGEINT/DECIMAL by
                # DuckDB typing rules (balanced-paren alias parser)
                kind = "wide_native_via_alias"
            else:
                kind = "other_native"  # int32/varchar/etc — out of class
                # ...unless the inner MENTIONS an alias defined as an
                # un-narrowed sum() anywhere in this SQL (HUGEINT/DECIMAL
                # by DuckDB typing): max(th.sx), arithmetic over summed
                # CTE columns, etc. Over-approximate; adjudicate by hand.
                wide_aliases = _wide_oracle_aliases(sql)
                mentioned = {
                    w.split(".")[-1]
                    for w in re.findall(r"[A-Za-z_][\w.]*", inner_stripped)
                }
                if mentioned & wide_aliases:
                    kind = "wide_native_via_alias"
            sites.append(
                {
                    "side": "oracle",
                    "query": name,
                    "kind": kind,
                    "inner": inner_stripped[:160],
                }
            )
    return sites


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    oracle = scan_oracle_side()

    def count(rows, key):
        out: dict[str, int] = {}
        for r in rows:
            out[r[key]] = out.get(r[key], 0) + 1
        return out

    summary = {"oracle_kinds": count(oracle, "kind")}
    print(json.dumps(summary, indent=1))
    seen = set()
    for r in oracle:
        if r["kind"] == "wide_native":
            key = (r["query"], r["inner"])
            if key in seen:
                continue
            seen.add(key)
            print(f"ORACLE {r['query']}: CAST({r['inner']} AS DOUBLE)")
    if args.json:
        os.makedirs(os.path.dirname(args.json), exist_ok=True)
        with open(args.json, "w") as f:
            json.dump({"summary": summary, "oracle": oracle}, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
