"""Shared column-expression helpers.

All helpers are pure pyspark.sql.functions compositions (JVM-side, codegen'd,
no Python UDFs) so every operator built on them stays inside whole-stage
codegen. The decimal-sum helpers exist for oracle determinism: summing
doubles is order-dependent, so float measures are first cast to an exact
DECIMAL, summed exactly, and converted back to double once with correct
rounding - natively in Spark, through VARCHAR in the DuckDB oracle twins
(oracle_dsum, oracle_exact_double) - bit-identical in both engines
regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# deterministic numeric aggregation


def dsum(col: str | Column, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent sum of a double column: exact DECIMAL accumulation,
    one final decimal->double conversion.

    Contract (part of each query's semantics, shared with its oracle): inputs
    are quantized to DECIMAL(30, scale) BEFORE summing, so the result is the
    exact sum of the rounded inputs, not the IEEE sum of the raw doubles.
    `scale` must cover the measure's generated precision (fixtures: money
    values carry 2 fractional digits -> scale=2 is lossless; events.value
    carries 6 -> callers pass scale=6). Precision 30 leaves >=24 integral
    digits, unreachable by any realistic sum of the fixtures' magnitudes; on
    overflow both engines ERROR (Spark under the ANSI mode the session pins,
    DuckDB natively), surfacing loudly rather than as silent corruption.

    TIE WARNING (round-6 finding): the double->decimal cast is NOT
    cross-engine deterministic for inputs that land EXACTLY on a decimal
    half-tie - dyadic rationals with denominator <= 2^(scale+1), which
    float32-derived values (embeddings) hit routinely (0.1494140625 at
    scale 9 -> DuckDB 0.149414062, Spark 0.149414063). Safe for the
    fixtures' money/value doubles (decimal-generated, never exactly
    dyadic-tied); for float32-derived inputs use integer micro-units
    instead: floor(x * 10^s + 0.5) summed as decimal(38,0)/HUGEINT -
    pure IEEE ops both engines compute identically (see
    curation.label_centroids / _km_update / text.vocab_oov_rate).

    CONVERSION: the exact sum's unscaled value crosses 2^53 at scale
    (pricing_summary's scale-6 charge sum does in the sf0.1->sf1 decade;
    any money sum does at 100 TB), so the one decimal->double conversion
    must be correctly rounded on both engines. Spark's native cast is: on
    JDK 17 Decimal.toDouble is BigDecimal.doubleValue, an exact (double)
    long at scale 0, one exact-operand IEEE divide while |unscaled| <
    2^52, and Double.parseDouble(toString()) otherwise
    (tests/test_accumulator_overflow_behavior.py pins the equality with
    the string path above 2^53). DuckDB's native DECIMAL->DOUBLE is not
    (measured one ulp high), so oracle_dsum takes the VARCHAR hop."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(30,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def davg(col: str | Column, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum / count, single IEEE divide.
    Same quantization and conversion contract as dsum(): the mean of
    inputs rounded to `scale` fractional digits, the sum converted with
    Spark's correctly rounded native cast (the oracle: VARCHAR hop)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(30,{scale})")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def oracle_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB SQL fragment matching dsum(). The sum takes the VARCHAR hop
    because DuckDB's native DECIMAL->DOUBLE is not correctly rounded
    above 2^53 (see dsum docstring)."""
    return (
        f"CAST(CAST(sum(CAST({expr} AS DECIMAL(30,{scale}))) AS VARCHAR)"
        f" AS DOUBLE)"
    )


def oracle_davg(expr: str, scale: int = 2) -> str:
    """DuckDB SQL fragment matching davg() - VARCHAR hop on the sum."""
    return (
        f"CAST(CAST(sum(CAST({expr} AS DECIMAL(30,{scale}))) AS VARCHAR)"
        f" AS DOUBLE) / count({expr})"
    )


# ---------------------------------------------------------------------------
# dates (reference D3: Spotify emits yyyy | yyyy-MM | yyyy-MM-dd)


def to_date_cascade(col: str | Column) -> Column:
    """Mixed-precision string->date (reference P:109 pd.to_datetime analog).

    try_to_date (not to_date) so the cascade is ANSI-mode safe: a narrower
    pattern failing to parse must yield NULL for coalesce, not an error.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_date(c, "yyyy-MM-dd"),
        F.try_to_date(c, "yyyy-MM"),
        F.try_to_date(c, "yyyy"),
    )


# ---------------------------------------------------------------------------
# vectors (stored array<float>; all math in double for cross-engine parity)


def vec_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + left-fold aggregate (JVM-side, sequential
    fold => deterministic order, matching DuckDB's sequential list ops)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# DuckDB fragments matching the above fold order exactly (list_transform +
# sequential list_sum): used by similarity/dedup oracles.
def oracle_dot(a: str, b: str) -> str:
    # list_zip yields an unnamed struct in current DuckDB: index numerically
    return f"list_sum(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]))"


def oracle_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


def oracle_cosine(a: str, b: str) -> str:
    return f"({oracle_dot(a, b)} / ({oracle_norm(a)} * {oracle_norm(b)}))"


# ---------------------------------------------------------------------------
# text


def tokens(col: str | Column) -> Column:
    """Lowercased word tokens; [a-z0-9]+ runs, matching ORACLE_TOKENS."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda t: t != F.lit(""))


ORACLE_TOKENS = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
)


# ---------------------------------------------------------------------------
# TIMESTAMP_TZ analog (reference S:47 `song_added TIMESTAMP_TZ`).
# Snowflake's TIMESTAMP_TZ stores (UTC instant, original offset); Spark's
# TimestampType normalizes to a UTC instant and forgets the offset
# (SURVEY §7 hard-part 1). The faithful analog is a column PAIR:
# unix_micros(to_timestamp(s)) carries the instant, ts_offset_minutes(s)
# carries the source offset, and format_ts_with_offset() reconstructs the
# original rendering losslessly. All JVM-side builtins, no UDFs; the
# arithmetic is session-timezone-proof because the only date_format call
# renders a micros value that was ALREADY shifted to the source-local
# clock (the session is pinned to UTC, session.RUNTIME_CONFS).

_TS_OFFSET_RE = r"([+-])(\d{2}):(\d{2})$"


def ts_offset_minutes(col: str | Column) -> Column:
    """Signed minutes of an ISO-8601 string's UTC offset suffix.
    'Z' (or no suffix) -> 0; '+05:30' -> 330; '-08:00' -> -480."""
    c = F.col(col) if isinstance(col, str) else col
    sign = F.when(F.regexp_extract(c, _TS_OFFSET_RE, 1) == "-", -1).otherwise(1)
    hh = F.coalesce(
        F.nullif(F.regexp_extract(c, _TS_OFFSET_RE, 2), F.lit("")).cast("int"),
        F.lit(0),
    )
    mm = F.coalesce(
        F.nullif(F.regexp_extract(c, _TS_OFFSET_RE, 3), F.lit("")).cast("int"),
        F.lit(0),
    )
    return sign * (hh * 60 + mm)


def format_ts_with_offset(utc_us: Column, offset_minutes: Column) -> Column:
    """Render (UTC-instant micros, offset minutes) back to the original
    ISO-8601 string: local clock = instant + offset, suffix = Z | ±HH:MM."""
    local_us = utc_us + offset_minutes.cast("bigint") * F.lit(60_000_000)
    clock = F.date_format(
        F.timestamp_micros(local_us), "yyyy-MM-dd'T'HH:mm:ss"
    )
    abs_min = F.abs(offset_minutes)
    suffix = F.when(offset_minutes == 0, F.lit("Z")).otherwise(
        F.concat(
            F.when(offset_minutes < 0, F.lit("-")).otherwise(F.lit("+")),
            F.lpad((abs_min / 60).cast("int").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad((abs_min % 60).cast("string"), 2, "0"),
        )
    )
    return F.concat(clock, suffix)


def oracle_ts_offset_minutes(expr: str) -> str:
    """DuckDB SQL fragment matching ts_offset_minutes()."""
    sgn = f"CASE WHEN regexp_extract({expr}, '([+-])(\\d{{2}}):(\\d{{2}})$', 1) = '-' THEN -1 ELSE 1 END"
    hh = f"coalesce(try_cast(nullif(regexp_extract({expr}, '([+-])(\\d{{2}}):(\\d{{2}})$', 2), '') AS INT), 0)"
    mm = f"coalesce(try_cast(nullif(regexp_extract({expr}, '([+-])(\\d{{2}}):(\\d{{2}})$', 3), '') AS INT), 0)"
    return f"({sgn}) * (({hh}) * 60 + ({mm}))"


def oracle_format_ts_with_offset(utc_us: str, offset_minutes: str) -> str:
    """DuckDB SQL fragment matching format_ts_with_offset()."""
    local = f"make_timestamp(({utc_us}) + CAST({offset_minutes} AS BIGINT) * 60000000)"
    clock = f"strftime({local}, '%Y-%m-%dT%H:%M:%S')"
    suffix = (
        f"CASE WHEN ({offset_minutes}) = 0 THEN 'Z' ELSE "
        f"concat(CASE WHEN ({offset_minutes}) < 0 THEN '-' ELSE '+' END, "
        f"lpad(CAST(abs({offset_minutes}) // 60 AS VARCHAR), 2, '0'), ':', "
        f"lpad(CAST(abs({offset_minutes}) % 60 AS VARCHAR), 2, '0')) END"
    )
    return f"concat({clock}, {suffix})"


def oracle_exact_double(expr: str) -> str:
    """DuckDB fragment: exact-integer (HUGEINT/DECIMAL) -> DOUBLE with
    round-to-nearest semantics, matching Spark's decimal->double cast.

    DuckDB's native CAST(int128 AS DOUBLE) TRUNCATES toward zero (round-6
    finding: 36084481273787747137 casts to 3.6084481273787744e19, one ULP
    below the correctly-rounded 3.608448127378775e19 that Spark and
    Python produce), so any exact integer moment above 2^53 is a per-value
    coin flip against Spark's hash. The VARCHAR hop forces DuckDB through
    its correctly-rounded string->double parser instead."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"
