"""Standing source lint for the BIGINT-overflow accumulator class
(r10 review finding, closed tree-wide in r12): Spark's `sum` over a raw
BIGINT column accumulates in BIGINT and WRAPS silently past 2^63, while
every DuckDB oracle sums in HUGEINT — an engine-asymmetric overflow the
hash gate is structurally blind to until it fires at scale. Two
anti-patterns kept reappearing, and both are ALWAYS mistakes because the
cast's own presence proves wide arithmetic was intended:

  1. sum-then-cast:      F.sum(x).cast("decimal…")
     The accumulator wraps BEFORE the outer cast can see the true
     value. Intended form: F.sum(x.cast("decimal…")).

  2. product-then-cast:  F.sum((a * b).cast("decimal(38,0)"))
     The per-ROW int64 product wraps BEFORE the cast. Intended form:
     F.sum(a.cast("decimal(38,0)") * b) — cast ONE factor first.

This lint walks the operator sources' AST (no Spark session needed) and
fails on either pattern. Raw `F.sum("count_like")` sums with NO decimal
cast anywhere are out of scope: the r10 sweep triaged those by physical
magnitude (corpus bytes ~1e14, row counts ~1e12, per-entity windows all
fit int64 with orders of magnitude to spare), and a syntactic lint
cannot judge magnitude — it CAN judge that a decimal cast sits on the
wrong side of the operation.

Allowlisted sites carry an inline proof that every per-row value fits
int64 (so only the accumulation needed widening, which those sites do
in the surrounding F.sum): keep each entry in sync with the proof
comment at the site.
"""

from __future__ import annotations

import ast
import re
import os

import data_engineering_spotify_etl_airflow_aws_spark as engine

_OPS_DIR = os.path.join(os.path.dirname(engine.__file__), "operators")

# (filename, funcdef name) -> justification required at the site.
# degree_powerlaw_check: products are ln(count)*1e6 ints < 9e7 each, so
# x*y < 9e15 << 2^63 per row (proof comment at the agg); only the
# accumulation is corpus-scale, and it is decimal.
_ALLOWED_PRODUCT_SITES = {
    ("clusters.py", "degree_powerlaw_check"),
}

# Sites where the summed columns are ALREADY decimal from an upstream
# select, so the visible-in-one-expression heuristic cannot see the
# cast: embedding_covariance_matrix / pca_power_iteration create u{i}
# as decimal(38,0) (r13 shared-cast form; previously 18,0) a few lines
# above their aggs, making every product and sum decimal — exact
# end-to-end. A syntactic lint cannot follow column types across select
# boundaries; each entry here must name the upstream cast in a comment
# at the site.
_ALLOWED_TYPED_UPSTREAM = {
    ("mlprep.py", "embedding_covariance_matrix"),
    ("mlprep.py", "pca_power_iteration"),
}


def _is_decimal_cast(node: ast.AST) -> bool:
    """node is `<expr>.cast("decimal…")`."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and node.args[0].value.lower().startswith("decimal")
    )


def _contains_decimal_cast(node: ast.AST) -> bool:
    return any(_is_decimal_cast(n) for n in ast.walk(node))


def _is_f_sum(node: ast.AST) -> bool:
    """node is `F.sum(...)`."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "sum"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
        and len(node.args) == 1
    )


def _enclosing_function(tree: ast.Module, lineno: int) -> str:
    best = "<module>"
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            end = getattr(n, "end_lineno", n.lineno)
            if n.lineno <= lineno <= end:
                best = n.name
    return best


def _scan_file(path: str) -> list[str]:
    src = open(path).read()
    tree = ast.parse(src)
    fname = os.path.basename(path)
    bad: list[str] = []

    for node in ast.walk(tree):
        # pattern 1: F.sum(arg).cast("decimal…") where arg has no
        # decimal cast of its own — the accumulator already wrapped.
        if _is_decimal_cast(node) and _is_f_sum(node.func.value):
            arg = node.func.value.args[0]
            if not _contains_decimal_cast(arg):
                site = (fname, _enclosing_function(tree, node.lineno))
                if site not in _ALLOWED_TYPED_UPSTREAM:
                    bad.append(
                        f"{fname}:{node.lineno} sum-then-cast in "
                        f"{site[1]}: the raw-int accumulator wraps "
                        f"before .cast('decimal') — cast INSIDE the sum "
                        f"(or allowlist with an upstream-type proof)"
                    )

        # pattern 2: F.sum(<expr containing (a*b).cast('decimal…') with
        # no decimal cast on either factor>) — the per-row product
        # already wrapped.
        if _is_f_sum(node):
            for sub in ast.walk(node.args[0]):
                if _is_decimal_cast(sub) and isinstance(
                    sub.func.value, ast.BinOp
                ) and isinstance(sub.func.value.op, ast.Mult):
                    binop = sub.func.value
                    if not (
                        _contains_decimal_cast(binop.left)
                        or _contains_decimal_cast(binop.right)
                    ):
                        site = (fname, _enclosing_function(tree, sub.lineno))
                        if site in _ALLOWED_PRODUCT_SITES:
                            continue
                        bad.append(
                            f"{fname}:{sub.lineno} product-then-cast in "
                            f"{site[1]}: the per-row int64 product wraps "
                            f"before .cast('decimal') — cast one factor "
                            f"first (or allowlist with a magnitude proof)"
                        )
    return bad


# ---------------------------------------------------------------------
# Third lint (r12): the cast-POSITION rules above cannot see a raw
# BIGINT sum that never mentions decimal at all — the class that hid
# daily_value_correlation's conditional per-day sums and
# stl_daily_decomposition's trend window until a name-keyed sweep found
# them. This rule flags any F.sum whose argument mentions a micro-unit
# column NAME with no decimal cast anywhere in the expression; each
# allowlisted site carries the magnitude/type proof from the r12 triage.
_MICRO_NAMES = (
    "u6", "y6", "v_u6", "vm", "micro", "cents", "qm", "e9", "u9",
    "c20", "y_micro", "x_micro", "rev_u6", "w_pico", "px", "py", "gap",
    "chi_term_u6", "det_micro", "qty_micro", "d_micro", "w_u6",
)

# (filename, funcdef) -> why a raw sum over a micro-named column is safe
_TRIAGED_SAFE_MICRO_SUMS = {
    # decimal via a VARIABLE the one-expression scan can't see
    ("extras.py", "daily_value_correlation"),   # pxd/pyd are decimal casts
    ("insights.py", "gini_customer_value"),     # dec() lambda wraps cents
    # column itself is already decimal-typed upstream
    ("extras.py", "cohort_ltv_matrix"),         # rev_micro: decimal agg
    ("tpch.py", "tpch_q11_important_stock"),    # value_micro: decimal agg
    ("windows.py", "time_weighted_avg_value"),  # val_u6/dt_us: decimal(20,0)
    # per-row/bounded-group magnitudes provably inside int64
    ("insights.py", "trending_parts_decayed"),  # w_u6<=1e6, lines/part ~3e3
    ("similarity.py", "pq_adc_recall_eval"),    # M<=16 subspace terms
    ("similarity.py", "ivfpq_topk_similar"),    # M<=16 subspace terms
    ("statistics.py", "ewma_control_chart"),    # 20 exact dyadic weights
    # per-entity running windows (a user's own lifetime totals)
    ("temporal.py", "feature_store_training_set"),
    ("windows.py", "max_drawdown_per_user"),
    ("windows.py", "trailing_7d_sum_per_event"),
    # first-level per-entity revenue aggs: supplier/part cardinality
    # grows WITH the corpus (TPC-H scaling), so lines-per-entity stays
    # ~constant — per-supplier rev_u6 ~1.8e15, per-part ~9e13 at the
    # 100 TB design point, thousands of times inside int64. (Their
    # DOWNSTREAM corpus-scale totals/windows were moved to decimal in
    # r10 — this entry covers only the per-entity first hop.)
    ("insights.py", "reciprocal_rank_fusion"),
    ("insights.py", "hhi_supplier_concentration"),
    ("insights.py", "abc_classification_parts"),
    ("insights.py", "rollup_share_of_parent"),
    # decimal via a VARIABLE (micro/u9 are decimal(38,0) casts bound a
    # few lines above their F.sum)
    ("similarity.py", "embedding_dim_stats"),
    ("similarity.py", "embedding_centroid_drift"),
}


# r13 (ADVICE): match on identifier SEGMENTS, not raw substring — short
# tokens like 'px'/'py'/'vm'/'gap' must fire on px/val_px/px_sum but not
# on unrelated identifiers (pyspark, approx, gaps_ok, overlap) where a
# containment match would force spurious allowlist entries.
_MICRO_SEGMENT_RE = re.compile(
    r"(^|_)(" + "|".join(re.escape(m) for m in _MICRO_NAMES) + r")($|_)"
)


def _is_micro_identifier(ident: str) -> bool:
    return bool(_MICRO_SEGMENT_RE.search(ident))


def _mentions_micro_name(node: ast.AST) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _is_micro_identifier(n.value):
                return True
        if isinstance(n, ast.Name) and _is_micro_identifier(n.id):
            return True
    return False


def _scan_file_micro(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    fname = os.path.basename(path)
    bad = []
    for node in ast.walk(tree):
        if _is_f_sum(node):
            arg = node.args[0]
            if _contains_decimal_cast(arg) or not _mentions_micro_name(arg):
                continue
            site = (fname, _enclosing_function(tree, node.lineno))
            if site in _TRIAGED_SAFE_MICRO_SUMS:
                continue
            bad.append(
                f"{fname}:{node.lineno} raw F.sum over micro-unit column "
                f"in {site[1]}: accumulate in decimal(38,0) or allowlist "
                f"with a magnitude/type proof"
            )
    return bad


def test_no_raw_micro_unit_sums():
    findings: list[str] = []
    for d in (_OPS_DIR, os.path.join(os.path.dirname(_OPS_DIR), "streaming")):
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".py"):
                findings.extend(_scan_file_micro(os.path.join(d, fn)))
    assert not findings, "\n".join(findings)


def test_micro_allowlist_entries_still_exist():
    for fname, func in _TRIAGED_SAFE_MICRO_SUMS:
        for d in (
            _OPS_DIR,
            os.path.join(os.path.dirname(_OPS_DIR), "streaming"),
        ):
            path = os.path.join(d, fname)
            if os.path.exists(path):
                break
        assert os.path.exists(path), f"allowlisted file gone: {fname}"
        tree = ast.parse(open(path).read())
        names = {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        assert func in names, f"allowlisted function gone: {fname}:{func}"


def test_no_wrapping_accumulator_patterns():
    findings: list[str] = []
    for fn in sorted(os.listdir(_OPS_DIR)):
        if fn.endswith(".py"):
            findings.extend(_scan_file(os.path.join(_OPS_DIR, fn)))
    assert not findings, "\n".join(findings)


def test_allowlist_entries_still_exist():
    """A stale allowlist entry would silently stop guarding anything if
    the function is renamed (same rule as the plan-hygiene and
    MAY_BE_EMPTY allowlists)."""
    for fname, func in _ALLOWED_PRODUCT_SITES | _ALLOWED_TYPED_UPSTREAM:
        path = os.path.join(_OPS_DIR, fname)
        assert os.path.exists(path), f"allowlisted file gone: {fname}"
        tree = ast.parse(open(path).read())
        names = {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        assert func in names, f"allowlisted function gone: {fname}:{func}"


# ---------------------------------------------------------------------
# Fourth lint (r13): the ORACLE-side mirror of the class above. When the
# Spark side deliberately accumulates a moment in decimal(38,0) and does
# NOT narrow it back to bigint, the DuckDB oracle must keep its native
# HUGEINT too — a `CAST(sum(…) AS BIGINT) AS x` on that alias makes the
# oracle ERROR (HUGEINT->BIGINT overflow) at exactly the scale the
# engine side was widened for, so a scale-regime parity sweep would
# report an oracle crash instead of validating the engine (r12 ADVICE on
# value_zscore_outliers; r13 review found 10 more sites across 7
# queries, all fixed). Convention: internal moments keep each engine's
# wide type and narrow only at the use site; OUTPUT columns that the
# Spark side itself casts to bigint keep the oracle cast (both engines
# narrow loudly - the _daily_micro contract).

_ORACLE_BIGINT_SUM = re.compile(
    r"CAST\(sum\(.{0,400}?\)\s+AS\s+BIGINT\)\s+AS\s+(\w+)", re.S | re.I
)

# (query name, alias) -> justification for keeping an oracle BIGINT cast
# on a Spark-decimal un-narrowed alias. Empty: the class is closed.
_ALLOWED_ORACLE_NARROWINGS: set[tuple[str, str]] = set()


def _spark_decimal_unnarrowed_aliases(fn) -> set[str]:
    """Aliases whose Spark expression is F.sum over a decimal-cast (or
    decimal-via-local-variable) argument with NO bigint cast between the
    sum and the alias."""
    import inspect
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(fn))
    except (OSError, TypeError):
        return set()
    tree = ast.parse(src)

    def has_decimal(node: ast.AST, dec_names: set[str]) -> bool:
        for n in ast.walk(node):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "cast"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and isinstance(n.args[0].value, str)
                and n.args[0].value.startswith("decimal(")
            ):
                return True
            if isinstance(n, ast.Name) and n.id in dec_names:
                return True
        return False

    dec_names = {
        n.targets[0].id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name)
        and has_decimal(n.value, set())
    }
    out: set[str] = set()
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "alias"
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and isinstance(n.args[0].value, str)
        ):
            continue
        cur = n.func.value
        narrowed = False
        while isinstance(cur, ast.Call) and isinstance(cur.func, ast.Attribute):
            if cur.func.attr == "cast" and cur.args and isinstance(
                cur.args[0], ast.Constant
            ):
                if cur.args[0].value == "bigint":
                    narrowed = True
                cur = cur.func.value
                continue
            if cur.func.attr == "over":
                cur = cur.func.value
                continue
            break
        if (
            isinstance(cur, ast.Call)
            and isinstance(cur.func, ast.Attribute)
            and cur.func.attr == "sum"
            and isinstance(cur.func.value, ast.Name)
            and cur.func.value.id == "F"
            and not narrowed
            and has_decimal(cur, dec_names)
        ):
            out.add(n.args[0].value)
    return out


def test_oracle_does_not_narrow_spark_decimal_moments():
    from data_engineering_spotify_etl_airflow_aws_spark import registry

    engine.load_all_operators()
    bad: list[str] = []
    for name in sorted(registry.ORACLES):
        sql = registry.ORACLES[name]
        obig = {m.group(1) for m in _ORACLE_BIGINT_SUM.finditer(sql)}
        if not obig:
            continue
        wide = _spark_decimal_unnarrowed_aliases(registry.QUERIES[name])
        for alias in sorted(obig & wide):
            if (name, alias) in _ALLOWED_ORACLE_NARROWINGS:
                continue
            bad.append(
                f"{name}: oracle CASTs sum AS BIGINT for alias '{alias}' "
                f"that the Spark side keeps decimal un-narrowed — drop "
                f"the oracle cast (internal-moment convention) or narrow "
                f"both sides"
            )
    assert not bad, "\n".join(bad)


# ---------------------------------------------------------------------
# Fifth lint (r13): the anonymous-alias escape. The name-keyed micro
# lint (third rule) keys on micro-ish column NAMES, so a daily/corpus
# micro-unit total summed under a bland alias like `x` or `v` slipped
# through — the r13 statistics.py review found three (binseg, ks_test,
# forecast_bakeoff), each summing floor(value*1e6)-quantized BIGINTs
# raw. The quantization is visible IN the sum argument, so this rule is
# name-free: any F.sum whose argument contains BOTH an F.floor call and
# a .cast("bigint") with NO decimal cast is summing a bigint-cast
# quantized measure in a raw int64 accumulator.

_ALLOWED_QUANTIZED_BIGINT_SUMS: set[tuple[str, str]] = set()


def _scan_file_quantized(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    fname = os.path.basename(path)
    bad: list[str] = []

    def has_bigint_cast(node: ast.AST) -> bool:
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "cast"
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == "bigint"
            for n in ast.walk(node)
        )

    def has_floor(node: ast.AST) -> bool:
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "floor"
            for n in ast.walk(node)
        )

    for node in ast.walk(tree):
        if not _is_f_sum(node):
            continue
        arg = node.args[0]
        if (
            has_floor(arg)
            and has_bigint_cast(arg)
            and not _contains_decimal_cast(arg)
        ):
            site = (fname, _enclosing_function(tree, node.lineno))
            if site in _ALLOWED_QUANTIZED_BIGINT_SUMS:
                continue
            bad.append(
                f"{fname}:{node.lineno} raw F.sum over a bigint-cast "
                f"floor-quantized measure in {site[1]}: accumulate in "
                f"decimal(38,0) (keep the bigint cast on the OUTPUT if "
                f"the oracle narrows too) or allowlist with a magnitude "
                f"proof"
            )
    return bad


def test_no_raw_sums_of_quantized_bigint_measures():
    findings: list[str] = []
    for d in (_OPS_DIR, os.path.join(os.path.dirname(_OPS_DIR), "streaming")):
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".py"):
                findings.extend(_scan_file_quantized(os.path.join(d, fn)))
    assert not findings, "\n".join(findings)


# ---------------------------------------------------------------------
# Sixth lint (r13): hash-checksum sums. A per-row 32-bit md5-derived
# hash summed in a raw int64 accumulator crosses 2^63 at ~4.3e9 rows
# (avg 2^31/row) - far below the 100 TB design point - while the DuckDB
# oracle's HUGEINT sum never wraps (the class found in
# orders_table_checksum / compact_small_files / replica_bucket_reconcile
# this round). These escaped the floor-quantization lint because a hash
# sum has no floor call. Rule: any F.sum whose argument derives from an
# md5/h32 expression (inline string or a local/module name bound to
# one) must carry a decimal cast inside the sum.

_ALLOWED_H32_SUMS: set[tuple[str, str]] = set()


def _scan_file_h32_sums(path: str) -> list[str]:
    src = open(path).read()
    tree = ast.parse(src)
    fname = os.path.basename(path)
    bad: list[str] = []

    def mentions_h32(node: ast.AST, h32_names: set[str]) -> bool:
        for n in ast.walk(node):
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and (
                "md5" in n.value.lower() or "_H32" in n.value
            ):
                return True
            if isinstance(n, ast.Name) and n.id in h32_names:
                return True
        return False

    h32_names = {
        n.targets[0].id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name)
        and mentions_h32(n.value, set())
    }
    for n in ast.walk(tree):
        if not _is_f_sum(n):
            continue
        arg = n.args[0]
        if mentions_h32(arg, h32_names) and not _contains_decimal_cast(arg):
            site = (fname, _enclosing_function(tree, n.lineno))
            if site in _ALLOWED_H32_SUMS:
                continue
            bad.append(
                f"{fname}:{n.lineno} raw F.sum over an md5/h32-derived "
                f"value in {site[1]}: ~4.3e9 rows wrap int64 - accumulate "
                f"in decimal(38,0) (keep the bigint OUTPUT cast; the "
                f"oracle narrows loudly too) or allowlist with a "
                f"cardinality proof"
            )
    return bad


def test_no_raw_hash_checksum_sums():
    findings: list[str] = []
    for d in (_OPS_DIR, os.path.join(os.path.dirname(_OPS_DIR), "streaming")):
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".py"):
                findings.extend(_scan_file_h32_sums(os.path.join(d, fn)))
    assert not findings, "\n".join(findings)


# ---------------------------------------------------------------------
# Seventh lint: the decimal->double CONVERSION class - the family that
# produced r14's only wrong answer (pricing_summary's sum_charge, one ulp
# off at sf1 only). Once a decimal/HUGEINT value's unscaled magnitude
# crosses 2^53 (every money sum does at the 100 TB design point), the
# conversion must be correctly rounded on both engines, and the engines
# differ:
#   * Spark: the NATIVE cast is correctly rounded on this JVM (JDK 17
#     BigDecimal.doubleValue: exact long->double, one exact-operand
#     divide below 2^52, Double.parseDouble otherwise).
#     tests/test_accumulator_overflow_behavior.py pins that equality
#     against the string path on adversarial magnitudes, so the engine
#     converts natively and a `.cast("string").cast("double")` chain is
#     dead weight - the reverse check below keeps it from coming back.
#   * Oracle: DuckDB's native DECIMAL->DOUBLE diverged from its
#     correctly rounded VARCHAR parser on 2476 of 16k probe values and
#     HUGEINT->DOUBLE on 15 of 4k (evidence/
#     decimal_double_rounding_probe.json), so every oracle
#     CAST(<wide> AS DOUBLE) takes the VARCHAR hop. Explicit exact-int64
#     narrowings (CAST(... AS BIGINT) AS DOUBLE) stay native:
#     long->double is correctly rounded by spec (hardware i64->f64 under
#     round-to-nearest).

_ALLOWED_ORACLE_WIDE_NATIVE: set[tuple[str, str]] = set()

_STRING_HOP = re.compile(r'\.cast\(\s*"string"\s*\)\s*\.cast\(\s*"double"\s*\)')


def test_no_spark_side_string_hop_to_double():
    # the pattern must span the line breaks a wrapped call chain uses
    assert _STRING_HOP.search('F.sum(x)\n    .cast("string")\n    .cast("double")')
    pkg = os.path.dirname(engine.__file__)
    found = []
    for root, _dirs, files in os.walk(pkg):
        for fn in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, fn)
            src = open(path).read()
            for m in _STRING_HOP.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                found.append(f"{os.path.relpath(path, pkg)}:{line}")
    assert not found, (
        "Spark's native decimal->double cast is correctly rounded; drop "
        f"the .cast('string') before .cast('double') at: {found}"
    )


def test_no_native_wide_to_double_oracle_casts():
    from tools.triage_decimal_double import scan_oracle_side

    sites = scan_oracle_side()
    assert sum(1 for s in sites if s["kind"] == "hop") >= 400, (
        "oracle wide->double scanner regression: hop census collapsed"
    )
    bad = [
        f"{s['query']}: CAST({s['inner'][:80]} AS DOUBLE) — wide "
        f"(HUGEINT/DECIMAL) oracle cast must take the VARCHAR hop "
        f"(conversion convention, r15) or be allowlisted with a <2^53 "
        f"magnitude proof"
        for s in sites
        if s["kind"].startswith("wide_native")
        and (s["query"], s["inner"][:40])
        not in _ALLOWED_ORACLE_WIDE_NATIVE
    ]
    assert not bad, "\n".join(bad)
