"""Shared column-expression helpers and query fragments.

All helpers are pure pyspark.sql.functions compositions (JVM-side, codegen'd,
no Python UDFs) so every operator built on them stays inside whole-stage
codegen. Each shared fragment is defined once here as a Spark form next to
the DuckDB fragment its oracles embed (dsum/oracle_dsum); operators call
them instead of spelling the fragment.

Decimal sums. The decimal-sum helpers exist for oracle determinism: summing
doubles is order-dependent, so float measures are first cast to an exact
DECIMAL, summed exactly, and converted back to double once with correct
rounding - natively in Spark, through VARCHAR in the DuckDB oracle twins
(oracle_dsum, oracle_exact_double) - bit-identical in both engines
regardless of partitioning.

Vectors. dot, l2_norm, cosine and the squared L2 distance sq_l2 fold
left over the zipped arrays, in the order of their DuckDB twins
(oracle_dot, oracle_norm, oracle_cosine, oracle_sq_l2) - sequential
list_sum - so both engines produce the same doubles.

Text vocabulary. The document operators (text, filtering, curation, dedup)
share one tokenizer (tokens/ORACLE_TOKENS: lowercased [a-z0-9]+ runs), one
STOPWORDS tuple and its hit count (stop_hits), one document quality score
(quality_score, and quality_micro for its exact micro-unit form) and one
n-gram builder (ngrams, the shingles being its distinct 3-grams). Each is
one SQL text; the Spark form is F.expr of it, which also keeps a build at
one py4j call per use. The quality score is a fixed-association IEEE chain
both engines evaluate bit-identically, so its one text serves both.

Banded global order. band_offsets() is the distributed device behind an
exact ntile or prefix sum without a single-partition sort: approximate
quantile boundaries band the rows, one shuffle ranks within bands, and a
window over the band-count table gives each band's offset; decile() is
ntile(10)'s bucket arithmetic over the resulting global rank. The design
comment above band_offsets() has the plan and the band-count rule.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches

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


def sq_l2(a: str, b: str) -> Column:
    """Squared L2 distance between the array expressions a and b (SQL
    text, e.g. slices): the same zip_with + left-fold shape as dot(), in
    one F.expr (0D: an unsuffixed 0.0 is a decimal in Spark SQL)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (x, y) -> x + y)"
    )


# DuckDB fragments matching the above fold order exactly (list_transform +
# sequential list_sum): used by similarity/dedup oracles.
def oracle_dot(a: str, b: str) -> str:
    # list_zip yields an unnamed struct in current DuckDB: index numerically
    return f"list_sum(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]))"


def oracle_sq_l2(a: str, b: str) -> str:
    """DuckDB SQL fragment matching sq_l2()."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])))"
    )


def oracle_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


def oracle_cosine(a: str, b: str) -> str:
    return f"({oracle_dot(a, b)} / ({oracle_norm(a)} * {oracle_norm(b)}))"


# ---------------------------------------------------------------------------
# text vocabulary (see the module docstring). Each fragment is one SQL
# text: the Spark form is F.expr of it (one py4j call per use), the
# oracle form is the DuckDB spelling the ORACLES strings embed.

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

TOKENS = "filter(split(lower({col}), '[^a-z0-9]+'), x -> x != '')"
ORACLE_TOKENS = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
)


def tokens(col: str) -> Column:
    """Lowercased word tokens; [a-z0-9]+ runs, matching ORACLE_TOKENS."""
    return F.expr(TOKENS.format(col=col))


def _stop_hits_sql(toks: str, stop: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in stop)
    return f"size(filter({toks}, x -> array_contains(array({lst}), x)))"


def stop_hits(toks: str, stop: tuple[str, ...] = STOPWORDS) -> Column:
    """Number of elements of the token array `toks` that are in `stop`."""
    return F.expr(_stop_hits_sql(toks, stop))


def oracle_stop_hits(toks: str, stop: tuple[str, ...] = STOPWORDS) -> str:
    """DuckDB SQL fragment matching stop_hits()."""
    lst = ", ".join(f"'{w}'" for w in stop)
    return f"len(list_filter({toks}, x -> list_contains([{lst}], x)))"


def _quality(n_tokens: str, n_stop: str, n_uniq: str) -> str:
    # one text both engines parse alike: the literals are decimals that
    # each engine widens to the double operand, so the fixed-association
    # IEEE chain is bit-identical in Spark and DuckDB
    return (
        f"((0.4 * least(CAST({n_tokens} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - CAST({n_stop} AS DOUBLE) / {n_tokens}))"
        f" + 0.3 * (CAST({n_uniq} AS DOUBLE) / {n_tokens}))"
    )


def _micro(expr: str) -> str:
    return f"CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT)"


def quality_score() -> Column:
    """Document quality in [0, 1] from the token, stopword-hit and
    distinct-token count columns n_tokens, n_stop, n_uniq:
    (0.4*len_norm + 0.3*(1-stop_ratio)) + 0.3*uniq_ratio with
    len_norm = min(n_tokens/100, 1)."""
    return F.expr(_quality("n_tokens", "n_stop", "n_uniq"))


def oracle_quality_score(n_tokens: str, n_stop: str, n_uniq: str) -> str:
    """DuckDB SQL fragment matching quality_score() over the three count
    expressions given."""
    return _quality(n_tokens, n_stop, n_uniq)


def quality_micro() -> Column:
    """quality_score of the non-empty token array column t, as exact
    integer micro-units floor(q*1e6 + 0.5) - the form sums and sorts key
    on."""
    n_stop = _stop_hits_sql("t", STOPWORDS)
    return F.expr(_micro(_quality("size(t)", n_stop, "size(array_distinct(t))")))


def oracle_quality_micro() -> str:
    """DuckDB SQL fragment matching quality_micro(), over the token list
    column toks."""
    n_stop = oracle_stop_hits("toks")
    return _micro(_quality("len(toks)", n_stop, "len(list_distinct(toks))"))


def ngrams(t: str, n: int) -> Column:
    """Space-joined token n-grams (not distinct) of the token array `t`,
    empty when it has fewer than n tokens: chained zip_with over shifted
    slices, which keeps the per-element cost O(1). Positional element_at
    inside a transform lambda re-wraps the array per element, ~40us each
    and ~11x slower at sf0.1. `t` must be a bound column: a tokenizer
    inlined here would re-run its regex split once per slice."""
    m = f"(size({t}) - {n - 1})"
    acc = f"slice({t}, 1, {m})"
    for k in range(2, n + 1):
        acc = f"zip_with({acc}, slice({t}, {k}, {m}), (x, y) -> concat(x, ' ', y))"
    return F.expr(f"CASE WHEN size({t}) >= {n} THEN {acc} ELSE array() END")


def oracle_ngrams(t: str, n: int) -> str:
    """DuckDB SQL fragment matching ngrams() (list indexes are 1-based)."""
    parts = ", ".join(f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(n))
    return (
        f"CASE WHEN len({t}) >= {n} THEN "
        f"list_transform(generate_series(1, len({t}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) ELSE [] END"
    )


# ---------------------------------------------------------------------------
# Banded global order: an exact rank or prefix sum WITHOUT a global
# single-partition sort (round-2 verdict: the naive `ntile(10) OVER
# (ORDER BY ...)` plan is the canonical 100x-scale-killer). Plan:
#   1. approx_percentile boundaries split the order into n_bands
#      key-ordered bands (boundary quality only affects band balance,
#      never correctness);
#   2. rows get their band via a broadcast of the 1-row boundary array -
#      the fact table never shuffles for the assignment;
#   3. ONE wide shuffle: the caller's window per band (reducers = bands,
#      each sorting ~1/n_bands of the data);
#   4. band totals -> cumulative offsets + grand total via ONE window
#      cumsum over the n_bands-row table. That window is single-
#      partition, but over a relation whose size is the BAND COUNT, not
#      the data - bounded by construction, so it is not the global-sort
#      scale-killer the naive plan had. (Round-3 shape used a broadcast
#      triangular self-join here; same result, three more stages -
#      round-4 verdict item.)
#   5. global position = band offset + in-band position; decile()
#      reproduces ntile(10)'s exact bucket arithmetic row for row.
#
# Band count scales with the scan partitioning (~128 MB splits by
# spark.sql.files.maxPartitionBytes): ~2 bands per split keeps each
# band's sort at roughly half an input split regardless of data volume,
# so the plan that runs on one parquet file at sf0.1 is the same plan
# that runs on 100k files at 100 TB.
MIN_BANDS = 8
MAX_BANDS = 65536


def band_offsets(
    df: DataFrame,
    key: str,
    weight: Column,
    local: Callable[[WindowSpec], Column],
) -> DataFrame:
    """df banded on `key`, with the caller's in-band column
    local(W.partitionBy("_band")), `_off` (the `weight` aggregate of all
    earlier bands, 0 for the first) and `_n` (its grand total), joined on
    `_band`. Rows equal to a boundary all land in one band, so bands
    strictly respect the key order; the band count follows df's input
    file count.

    A checkpoint freezes the boundaries: the banded rows feed both the
    in-band window and the band totals, and a second physical evaluation
    of the merge-order-dependent GK sketch could band rows differently
    between the two consumers (r9 review). One bounded 1-row job."""
    n_bands = max(MIN_BANDS, min(MAX_BANDS, 2 * len(df.inputFiles())))
    probs = [i / n_bands for i in range(1, n_bands)]
    quantiles = F.percentile_approx(key, probs, max(10_000, 4 * n_bands))
    bounds = caches.checkpoint(df.agg(quantiles.alias("_bounds")))
    banded = (
        df.join(F.broadcast(bounds))
        .withColumn("_band", F.size(F.filter("_bounds", lambda x: x < F.col(key))))
        .drop("_bounds")
    )
    # totals come from the pre-window lineage: the heavy per-band sort
    # never re-executes for the offset table (its agg is partial + tiny
    # shuffle); offsets + grand total ride ONE window pass
    totals = banded.groupBy("_band").agg(weight.alias("_bn"))
    w_cum = W.orderBy("_band").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.orderBy("_band").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    offsets = totals.select(
        "_band",
        F.coalesce(F.sum("_bn").over(w_cum), F.lit(0)).alias("_off"),
        F.sum("_bn").over(w_all).alias("_n"),
    )
    return banded.select("*", local(W.partitionBy("_band"))).join(
        F.broadcast(offsets), "_band"
    )


def decile(rank: Column, n: Column) -> Column:
    """ntile(10) of the 1-based `rank` among `n` rows: the first n % 10
    deciles get one extra row."""
    q = F.floor(n / 10)
    rem = n % 10
    cut = rem * (q + 1)
    return (
        F.when(rank <= cut, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((rank - cut - 1) / q) + 1)
        .cast("int")
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
