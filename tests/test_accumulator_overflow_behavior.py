"""Behavioral pins for the accumulator-overflow class the AST lints
guard (tests/test_accumulator_hygiene.py): the lints assert SOURCE
patterns; this file proves on live engines WHY those patterns matter,
so a Spark or DuckDB upgrade that changes any underlying behavior fails
loudly here instead of silently invalidating the conventions.

Engine truth (pinned below, r13 measurement): this deployment runs
Spark 4 with ANSI mode ON (the Spark 4 default), where a raw BIGINT
accumulation past 2^63 RAISES ArithmeticException — an availability
failure at exactly the scale the query was designed for. With ANSI OFF
(the pre-4.0 default some deployments restore), the same accumulation
WRAPS silently — a correctness failure. The decimal(38,0) accumulation
convention computes the TRUE value under both configurations, which is
why it is the house rule rather than "rely on ANSI to crash":

1. ANSI on:  raw BIGINT sum overflow raises; decimal sum is exact.
2. ANSI off: raw BIGINT sum overflow wraps silently; decimal sum is
   exact. (Pinned by toggling the conf inside the test.)
3. The bigint OUTPUT cast of an over-int64 decimal total raises under
   ANSI — symmetric with the DuckDB oracle's HUGEINT->BIGINT cast
   error, the loud-narrowing contract output columns rely on. With
   ANSI OFF the same cast WRAPS SILENTLY (measured below: -3.45e18,
   not NULL) — which is why session.get_spark pins ansi.enabled=true
   explicitly instead of inheriting the Spark 4 default.
4. DuckDB sums integers in HUGEINT (exact, no config) and ERRORS on a
   HUGEINT->BIGINT overflow cast — why an oracle must never narrow an
   internal moment the Spark side keeps wide (the fourth lint).
5. Spark's native decimal->double and bigint->double casts are
   correctly rounded: equal to the string path (Double.parseDouble) on
   adversarial magnitudes straddling 2^53, per row and on F.sum (the
   dsum shape). This is why Spark-side conversions are native while the
   DuckDB oracles keep their VARCHAR hop (DuckDB's native wide casts
   diverge above 2^53, evidence/decimal_double_rounding_probe.json).
"""

from __future__ import annotations

import random
from contextlib import contextmanager

import duckdb
import pytest
from pyspark.sql import functions as F

# three values whose sum (1.5e19) exceeds int64 max (~9.22e18) while
# each value fits comfortably — the exact shape of a corpus-scale
# micro-unit total over int64-safe per-row values
_VALS = [5_000_000_000_000_000_000] * 3
_TRUE_SUM = sum(_VALS)  # 1.5e19


@pytest.fixture(scope="module")
def vals_df(spark):
    return spark.createDataFrame([(v,) for v in _VALS], "x bigint")


@contextmanager
def _ansi(spark, enabled: bool):
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_session_runs_ansi_mode(spark):
    # the deployment premise the comments and pins below rest on
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_spark_raw_bigint_sum_raises_under_ansi(spark, vals_df):
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        vals_df.agg(F.sum("x").alias("s")).first()


def test_spark_raw_bigint_sum_wraps_silently_without_ansi(spark, vals_df):
    with _ansi(spark, False):
        got = vals_df.agg(F.sum("x").alias("s")).first()["s"]
    assert got != _TRUE_SUM
    # two's-complement wraparound, delivered without any error
    assert got == _TRUE_SUM - 2**64


def test_spark_decimal_accumulation_is_exact_in_both_configs(
    spark, vals_df
):
    for enabled in (True, False):
        with _ansi(spark, enabled):
            got = vals_df.agg(
                F.sum(F.col("x").cast("decimal(38,0)")).alias("s")
            ).first()["s"]
        assert int(got) == _TRUE_SUM, f"ansi={enabled}"


def test_spark_bigint_output_cast_raises_under_ansi_wraps_without(
    spark, vals_df
):
    # Under ANSI the narrowing cast raises — the loud-narrowing contract
    # output columns rely on (mirroring the DuckDB oracle's cast error).
    # With ANSI off it WRAPS SILENTLY (NOT null — Decimal.toLong wraps),
    # which is exactly why session.get_spark pins ANSI on explicitly.
    agg = F.sum(F.col("x").cast("decimal(38,0)")).cast("bigint").alias("s")
    with pytest.raises(Exception, match="(?i)overflow|cannot be represented|cast"):
        vals_df.agg(agg).first()
    with _ansi(spark, False):
        got = vals_df.agg(agg).first()["s"]
    assert got == _TRUE_SUM - 2**64  # the silent hazard ANSI=off restores


def test_duckdb_hugeint_sum_exact_and_bigint_cast_errors():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS x", [_VALS]
    )
    exact = con.execute("SELECT sum(x) FROM t").fetchone()[0]
    assert int(exact) == _TRUE_SUM  # HUGEINT accumulator, no wrap
    # the oracle-narrowing hazard: CAST(sum(..) AS BIGINT) raises at
    # exactly the scale the Spark side was widened for — an oracle
    # crash, not a parity verdict (why internal moments stay wide)
    with pytest.raises(duckdb.Error):
        con.execute("SELECT CAST(sum(x) AS BIGINT) FROM t").fetchone()
    con.close()


def test_spark_per_row_product_fails_before_cast_can_widen(spark):
    # the product-then-cast lint's reason: (a * b).cast('decimal') is
    # evaluated as an int64 product FIRST — ANSI raises, non-ANSI wraps
    # — while casting ONE FACTOR first is exact in both configs
    df = spark.createDataFrame(
        [(4_000_000_000, 4_000_000_000)], "a bigint, b bigint"
    )
    bad = (F.col("a") * F.col("b")).cast("decimal(38,0)").alias("p")
    good = (F.col("a").cast("decimal(38,0)") * F.col("b")).alias("p")
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        df.select(bad).first()
    with _ansi(spark, False):
        wrapped = df.select(bad).first()["p"]
    assert int(wrapped) == 16_000_000_000_000_000_000 - 2**64
    for enabled in (True, False):
        with _ansi(spark, enabled):
            exact = df.select(good).first()["p"]
        assert int(exact) == 16_000_000_000_000_000_000, f"ansi={enabled}"


# (Spark type, scale, max unscaled bits): bigint stays below 2^62 so a
# pair sum cannot overflow under ANSI; decimal(18, s) below 10^18.
_BANDS = [
    ("decimal(18,2)", 2, 59),
    ("decimal(18,6)", 6, 59),
    ("decimal(38,0)", 0, 100),
    ("decimal(38,2)", 2, 100),
    ("decimal(38,6)", 6, 100),
    ("bigint", 0, 61),
]


def _adversarial_unscaled(max_bits: int, n: int = 2000) -> list[int]:
    """Signed unscaled integers: a dense band around 2^53, then wide
    magnitudes whose low bits force rounding decisions (0111..1 /
    1000..1 near-tie tails below the 53-bit mantissa)."""
    rng = random.Random(0xD15C)
    vals = [(1 << (53 + d)) + off for d in range(-3, 4) for off in (-3, -1, 0, 1, 3)]
    while len(vals) < n:
        bits = rng.randint(40, max_bits)
        base = rng.getrandbits(bits) | (1 << (bits - 1))
        low = 1 << max(bits - 54, 1)
        vals.append(base ^ rng.choice([0, 1, low - 1, low + 1]) | 1)
    return [v if i % 2 else -v for i, v in enumerate(vals)]


def _decimal_text(u: int, scale: int) -> str:
    digits = str(abs(u)).rjust(scale + 1, "0")
    body = f"{digits[:-scale]}.{digits[-scale:]}" if scale else digits
    return f"-{body}" if u < 0 else body


@pytest.mark.parametrize("dtype,scale,max_bits", _BANDS, ids=[b[0] for b in _BANDS])
def test_spark_native_to_double_cast_is_correctly_rounded(
    spark, dtype, scale, max_bits
):
    unscaled = _adversarial_unscaled(max_bits)
    # exact literal text, parsed losslessly by the cast on the executors
    # (an RDD scan, so the optimizer cannot fold the casts on the
    # driver); rows pair up (k = i // 2) for the F.sum check
    df = spark.createDataFrame(
        [(i // 2, _decimal_text(u, scale), str(u)) for i, u in enumerate(unscaled)],
        "k int, t string, u string",
    ).select("k", F.col("t").cast(dtype).alias("d"),
             F.col("u").cast("decimal(38,0)").alias("u"))

    def native_and_hop(c):
        return [c.cast("double"), c.cast("string").cast("double")]

    d, u, s = F.col("d"), F.col("u"), F.col("s")
    groups = (
        df.groupBy("k")
        .agg(
            F.collect_list(
                F.struct(
                    d.cast("string"),
                    *native_and_hop(d),
                    # deliberately double-rounded: unscaled -> double,
                    # then an inexact divide
                    u.cast("double") / F.lit(10.0**scale),
                    F.abs(u) > F.lit(2**53),
                )
            ).alias("rows"),
            F.sum(d).alias("s"),
        )
        .select("rows", s.cast("string"), *native_and_hop(s))
        .collect()
    )
    rows = [r for g in groups for r in g[0]]
    assert len(rows) == len(unscaled)
    # guard the guard: the band really straddles 2^53, and (for scaled
    # bands) a wrong cast would be caught on these inputs
    assert sum(r[4] for r in rows) >= 100
    if scale:
        assert any(r[3] != r[2] for r in rows), "inputs cannot catch a double rounding"
    bad = [r[:3] for r in rows if r[1] != r[2]]
    assert not bad, f"{dtype}: native cast != string path on {len(bad)} rows: {bad[:5]}"
    bad_sums = [tuple(g[1:]) for g in groups if g[2] != g[3]]
    assert not bad_sums, f"sum({dtype}): native != string path: {bad_sums[:5]}"
