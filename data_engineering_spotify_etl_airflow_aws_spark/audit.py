"""Audit-evidence scanning: which queries have a green driver-audit row,
and from which round.

The round driver hash-audits only the first AUDIT_WINDOW registered
queries each round and records the results in CORRECTNESS_r{N}.json at
the repo root. The audit-slot rotation (``__init__._compute_audit_first``)
needs "last green round" per query; this module derives it by scanning
those files LIVE at import time, so the rotation can never run on stale
evidence (round-6 verdict #6: rule enforced by code, not prose). A tree
without the history files has no green evidence, so every query counts
as never-audited and the window follows registration order.
"""

from __future__ import annotations

import glob
import json
import os
import re


def repo_root() -> str:
    """The directory holding CORRECTNESS_r*.json: the package's parent."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scan_last_green(root: str | None = None) -> dict[str, int]:
    """query name -> latest round whose driver audit row was green
    (err-free, rows matched, schema/hash not mismatched; rows-only
    queries count on their rows check - the strongest evidence there
    is for them)."""
    last_green: dict[str, int] = {}
    for path in sorted(
        glob.glob(os.path.join(root or repo_root(), "CORRECTNESS_r*.json"))
    ):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, v in data.items():
            if not isinstance(v, dict):
                continue
            green = (
                v.get("err") is None
                and v.get("rows_match") is True
                and v.get("schema_match") is not False
                and v.get("hash_match") is not False
            )
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def scanned_rounds(root: str | None = None) -> list[int]:
    """Round numbers with a CORRECTNESS file present, ascending."""
    out = []
    for path in glob.glob(
        os.path.join(root or repo_root(), "CORRECTNESS_r*.json")
    ):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def last_green_audit() -> dict[str, int]:
    """Live scan of the CORRECTNESS history next to the package."""
    return scan_last_green()
