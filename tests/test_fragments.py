"""One definition per shared query fragment.

The document operators' text vocabulary (tokenizer, stopwords, quality
score) and the banded global order's band-count rule are defined once, in
functions/, each as a Spark form beside its DuckDB twin. A source lint:
no other package module spells the tokenizer regex, a stopword tuple, the
quality weights or a band-count constant, and functions/ holds exactly
one copy of each (the tokenizer regex once per engine).
"""

from __future__ import annotations

import ast
import os
import re

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark import functions
from data_engineering_spotify_etl_airflow_aws_spark.functions import STOPWORDS

_PKG_DIR = os.path.dirname(engine.__file__)
_TOKEN_RE = "[^a-z0-9]+"
# 0.4 * least(...) - SQL text or Column form (F.lit(0.4) * F.least(...))
_WEIGHTS_RE = re.compile(r"0\.4\s*\)?\s*\*\s*(F\.)?least\(")
_BAND_CONST_RE = re.compile(r"(MIN|MAX)_BANDS$")


def _fragment_sites(path: str) -> list[str]:
    """Spellings of a shared fragment in one module."""
    with open(path) as f:
        src = f.read()
    bad = [
        f"line {src.count(chr(10), 0, m.start()) + 1}: tokenizer regex"
        for m in re.finditer(re.escape(_TOKEN_RE), src)
    ]
    bad += [
        f"line {src.count(chr(10), 0, m.start()) + 1}: quality weights"
        for m in _WEIGHTS_RE.finditer(src)
    ]
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            words = {
                e.value for e in node.elts
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
            if len(words & set(STOPWORDS)) >= 5:
                bad.append(f"line {node.lineno}: stopword tuple")
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and _BAND_CONST_RE.search(t.id):
                    bad.append(f"line {node.lineno}: band constant {t.id}")
    return bad


def test_only_functions_module_spells_shared_fragments():
    found = {}
    for root, _, files in os.walk(_PKG_DIR):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == functions.__file__:
                continue
            bad = _fragment_sites(path)
            if bad:
                found[os.path.relpath(path, _PKG_DIR)] = bad
    assert found == {}
    # ...and functions/ holds one of each: the tokenizer regex once per
    # engine (TOKENS, ORACLE_TOKENS), everything else once
    kinds = sorted(
        b.split(": ", 1)[1] for b in _fragment_sites(functions.__file__)
    )
    assert kinds == sorted([
        "tokenizer regex", "tokenizer regex", "quality weights",
        "stopword tuple", "band constant MIN_BANDS", "band constant MAX_BANDS",
    ])
