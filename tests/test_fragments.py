"""One definition per shared query fragment.

The document operators' text vocabulary (tokenizer, stopwords, quality
score), the banded global order's band-count rule and the squared-L2
fold are defined once, in functions/, each as a Spark form beside its
DuckDB twin. A source lint: no other package module spells the tokenizer
regex, a stopword tuple, the quality weights, a band-count constant or
the squared-difference fold over array elements, and functions/ holds
exactly one copy of each (the tokenizer regex and the fold once per
engine). The generated arithmetic of the dedup operators is held to one
text too: the SimHash bit sum appears once in the package, and the
shingle-set Jaccard ratio of the near-dup verify once per engine.
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
# (x - y) * (x - y) over fold elements: lambda variables or subscripts,
# also split across string literals ("..." f" * (...)")
_ELEM = r"(?:\b\w\b|[\w.]+\[[^\]]+\])"
_SQ_DIFF_RE = re.compile(
    rf"\(({_ELEM}) - ({_ELEM})\)[\s\"f]*\*[\s\"f]*\(\1 - \2\)"
)
# the SimHash bit test: SQL text ((h >> {b}) & 1) or Column shiftright
_BIT_SUM_RE = re.compile(r">>\s*\{b\}\)\s*&\s*1|shiftright\(\"h\", b\)")
# |A & B| / (|A| + |B| - |A & B|) with an intersect count, on
# whitespace-collapsed source; qualified sizes (a.n_sh) are DuckDB text
_JACCARD_RE = re.compile(
    r"/ \((?:F\.col\(\")?(\w+\.)?n_\w+(?:\"\))? \+ "
    r"(?:F\.col\(\")?\w*\.?n_\w+(?:\"\))? - "
    r"(?:len\(list_intersect|common\b|\{_?\w*COMMON\})"
)


def _package_files() -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(_PKG_DIR)
        for f in files
        if f.endswith(".py")
    ]


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
    bad += [
        f"line {src.count(chr(10), 0, m.start()) + 1}: squared-difference fold"
        for m in _SQ_DIFF_RE.finditer(src)
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
    for path in _package_files():
        if path == functions.__file__:
            continue
        bad = _fragment_sites(path)
        if bad:
            found[os.path.relpath(path, _PKG_DIR)] = bad
    assert found == {}
    # ...and functions/ holds one of each: the tokenizer regex and the
    # squared-difference fold once per engine, everything else once
    kinds = sorted(
        b.split(": ", 1)[1] for b in _fragment_sites(functions.__file__)
    )
    assert kinds == sorted([
        "tokenizer regex", "tokenizer regex", "quality weights",
        "stopword tuple", "band constant MIN_BANDS", "band constant MAX_BANDS",
        "squared-difference fold", "squared-difference fold",
    ])


def test_dedup_arithmetic_is_spelled_once():
    bit_sums, jaccard = [], {"spark": [], "duckdb": []}
    for path in _package_files():
        with open(path) as f:
            src = f.read()
        rel = os.path.relpath(path, _PKG_DIR)
        bit_sums += [rel for _ in _BIT_SUM_RE.finditer(src)]
        for m in _JACCARD_RE.finditer(re.sub(r"\s+", " ", src)):
            jaccard["duckdb" if m.group(1) else "spark"].append(rel)
    assert bit_sums == ["operators/dedup.py"]
    assert jaccard == {
        "spark": ["operators/dedup.py"], "duckdb": ["operators/dedup.py"]
    }
