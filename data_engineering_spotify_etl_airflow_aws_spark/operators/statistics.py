"""Statistical / time-series analytics operators: autocorrelation,
seasonal-naive forecast error, winsorized moments, leakage-free target
encoding, join-key skew profiling, pointwise mutual information, OLS
trend, CUSUM changepoint, day-of-week seasonality, the Benford
first-digit test, PSI distribution drift, and categorical-column
entropy profiling.

These widen the warehouse surface past the reference's flat aggregates
(SURVEY.md §2a stops at GROUP BY + AVG/COUNT) toward the diagnostics a
feature-engineering / data-quality user runs before training: "is the
metric autocorrelated?", "how wrong is the naive forecast?", "how skewed
is my join key?", "which categorical values co-occur?".

Cross-engine determinism (driver value-hash): every mean/corr is built
from EXACT integer moments (micro-unit bigint / decimal(38,0) on the
Spark side, BIGINT / HUGEINT on the DuckDB side), converted to double
once, with the same IEEE op sequence on both sides - the pattern proven
by daily_value_correlation (extras.py). Quantile boundaries ride integer
scales chosen so the interpolated value is exactly representable (scale
20 for q=.05/.95: (n-1)*q has denominator 20, so 20x the interpolated
value is an integer).

Scale notes (100 TB) are per-operator; the common shape is one fact-table
shuffle into a BOUNDED relation (days, types, segments, histogram of
counts) and all windowing/cross-products confined to that bounded side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..registry import query
from ..tables import load_table
from .dedup import _DUCK_H32 as _ST_DH32
from .dedup import _SPARK_H32 as _ST_SH32


def _daily_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, v): exact micro-unit daily total event value - one day-keyed
    shuffle with map-side partials; the result is bounded by the calendar
    (#days), so every window below runs on a tiny relation.

    r12 fix (SCALING_r10 hit list): the per-day u6 sum accumulates in
    decimal(38,0), not raw BIGINT - a 100 TB/day corpus puts the daily
    total near 3e19 micro-units, past int64's 9.2e18. The bigint OUTPUT
    cast keeps the downstream contract (and DuckDB's HUGEINT-summed
    oracle casts to BIGINT the same way); past int64 it fails LOUDLY
    (ANSI, pinned in session.get_spark: the cast raises; DuckDB's cast
    errors the same way). DuckDB's sum(BIGINT) is HUGEINT
    natively, so only the Spark side needed the widening."""
    return (
        load_table(spark, sf_dir, "events")
        .select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
        )
        .groupBy("day")
        .agg(F.sum(F.col("u6").cast("decimal(38,0)")).cast("bigint").alias("v"))
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily-total series at lags 1 and 7 - the
# seasonality probe every metrics pipeline runs. The series is the
# by-day aggregate (bounded by the calendar), the lag is one window over
# that bounded series (single-partition window is fine: #days rows even
# at 100 TB), and each lag's Pearson moments are exact integers in
# micro-units (products in decimal(38,0)/HUGEINT - daily-total squares
# overflow int64), converted to double once; the textbook formula is the
# same IEEE sequence both engines, so round(6) cannot straddle.
#
# Scale notes (100 TB): one events->day shuffle with partial aggs; all
# later stages touch <=#days rows.
@query(
    "autocorr_daily_value",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT v,
               lag(v, 1) OVER (ORDER BY day) AS l1,
               lag(v, 7) OVER (ORDER BY day) AS l7
        FROM daily
    ),
    m AS (
        SELECT 1 AS lag_days, count(*) AS n,
               sum(v) AS sx, sum(l1) AS sy,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(l1 AS HUGEINT) * l1) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(v AS HUGEINT) * l1) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lagged WHERE l1 IS NOT NULL
        UNION ALL
        SELECT 7 AS lag_days, count(*) AS n,
               sum(v) AS sx, sum(l7) AS sy,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(l7 AS HUGEINT) * l7) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(v AS HUGEINT) * l7) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lagged WHERE l7 IS NOT NULL
    )
    SELECT lag_days, n AS n_pairs,
           round((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
               / sqrt((n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx)
                      * (n * syy - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * sy)), 6)
               AS autocorr_value
    FROM m
    """,
)
def autocorr_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_micro(spark, sf_dir)
    w = W.orderBy("day")
    lagged = daily.select(
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", 7).over(w).alias("l7"),
    )

    def moments(col: str, lag_days: int) -> DataFrame:
        vd = F.col("v").cast("decimal(38,0)")
        ld = F.col(col).cast("decimal(38,0)")
        return (
            lagged.where(F.col(col).isNotNull())
            .agg(
                F.lit(lag_days).alias("lag_days"),
                F.count("*").alias("n"),
                # r12: series sums stay decimal (internal moments; a
                # year of 100 TB days crosses int64). decimal->double at
                # the use site equals the oracle's BIGINT->double.
                F.sum(vd).alias("sx"),
                F.sum(ld).alias("sy"),
                F.sum(vd * F.col("v")).cast("double").alias("sxx"),
                F.sum(ld * F.col(col)).cast("double").alias("syy"),
                F.sum(vd * F.col(col)).cast("double").alias("sxy"),
            )
        )

    m = moments("l1", 1).unionByName(moments("l7", 7))
    n = F.col("n")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        "lag_days",
        n.alias("n_pairs"),
        F.round(
            (n * F.col("sxy") - sxd * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - sxd * F.col("sx"))
                * (n * F.col("syy") - syd * F.col("sy"))
            ),
            6,
        ).alias("autocorr_value"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast error: predict each (event_type, day) total by
# the SAME type's total 7 days earlier and score MAE + mean bias - the
# baseline every forecasting system must beat. The pairing is an
# explicit self-join on (event_type, day-7) rather than lag(7): lag is
# ordinal and silently pairs across gaps when a day is missing, the join
# is calendar-exact. Error sums are exact micro-unit integers
# (decimal(38,0)/HUGEINT); each metric divides once and rounds.
#
# Scale notes (100 TB): the fact shuffle is one (type, day) agg; the
# self-join runs on the bounded daily relation (#types x #days rows).
@query(
    "seasonal_naive_error",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(CAST(sum(CAST(abs(a.v - b.v) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / count(*) / 1000000, 6) AS mae_value,
           round(CAST(CAST(sum(CAST(a.v - b.v AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / count(*) / 1000000, 6) AS bias_value
    FROM daily a
    JOIN daily b ON b.event_type = a.event_type
                AND b.day = a.day - INTERVAL 7 DAY
    GROUP BY a.event_type
    """,
)
def seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
        )
        .groupBy("event_type", "day")
        # r12: decimal accumulation (per-(type,day) u6 totals cross int64
        # at the 100 TB/day design point); bigint OUTPUT cast keeps the
        # downstream diff arithmetic and raises loudly past int64 (ANSI).
        .agg(F.sum(F.col("u6").cast("decimal(38,0)")).cast("bigint").alias("v"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    diff = (F.col("a.v") - F.col("b.v")).cast("decimal(38,0)")
    return (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") == F.date_sub(F.col("a.day"), 7)),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.abs(diff)).cast("double") / F.count("*") / 1_000_000, 6
            ).alias("mae_value"),
            F.round(
                F.sum(diff).cast("double") / F.count("*") / 1_000_000, 6
            ).alias("bias_value"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorized moments per event_type: clamp values into [p05, p95] before
# averaging - the outlier-robust mean that pairs with mad_outlier_gate's
# detection. Exactness trick: for q with denominator 20, the
# interpolated quantile of integer micro-units times 20 is an integer
# ((n-1)*q splits at twentieths), so clamping runs entirely in a
# 20x-scaled integer domain - no double compares, no tie ambiguity -
# and the winsorized sum is exact (decimal(38,0)/HUGEINT).
#
# Scale notes (100 TB): two passes over events (quantiles, then clamp
# + agg), both partial-agg combines keyed by the bounded event_type;
# the quantile relation (one row per type) broadcasts. Spark's exact
# percentile() buffers per-group values; at 100 TB swap for
# approx_percentile with the same 20x-integer clamp - the winsorize
# semantics under test are unchanged.
@query(
    "winsorized_stats_by_type",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    q AS (
        SELECT event_type,
               CAST(round(quantile_cont(vm, 0.05) * 20) AS BIGINT) AS p05_20,
               CAST(round(quantile_cont(vm, 0.95) * 20) AS BIGINT) AS p95_20
        FROM v GROUP BY event_type
    ),
    c AS (
        SELECT v.event_type,
               greatest(least(vm * 20, p95_20), p05_20) AS c20,
               CASE WHEN vm * 20 < p05_20 THEN 1 ELSE 0 END AS lo,
               CASE WHEN vm * 20 > p95_20 THEN 1 ELSE 0 END AS hi,
               p05_20, p95_20
        FROM v JOIN q USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(lo) AS BIGINT) AS n_clamped_low,
           CAST(sum(hi) AS BIGINT) AS n_clamped_high,
           round(CAST(CAST(sum(CAST(c20 AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / count(*) / 20000000, 6) AS winsorized_mean,
           round(CAST(p05_20 AS DOUBLE) / 20000000, 6) AS p05_value,
           round(CAST(p95_20 AS DOUBLE) / 20000000, 6) AS p95_value
    FROM c
    GROUP BY event_type, p05_20, p95_20
    """,
)
def winsorized_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
    )
    q = v.groupBy("event_type").agg(
        F.round(F.expr("percentile(vm, 0.05)") * 20).cast("bigint").alias("p05_20"),
        F.round(F.expr("percentile(vm, 0.95)") * 20).cast("bigint").alias("p95_20"),
    )
    v20 = F.col("vm") * 20
    c = v.join(F.broadcast(q), "event_type").select(
        "event_type",
        F.greatest(F.least(v20, F.col("p95_20")), F.col("p05_20")).alias("c20"),
        F.when(v20 < F.col("p05_20"), 1).otherwise(0).alias("lo"),
        F.when(v20 > F.col("p95_20"), 1).otherwise(0).alias("hi"),
        "p05_20",
        "p95_20",
    )
    return (
        c.groupBy("event_type", "p05_20", "p95_20")
        .agg(
            F.count("*").alias("n_values"),
            F.sum("lo").cast("bigint").alias("n_clamped_low"),
            F.sum("hi").cast("bigint").alias("n_clamped_high"),
            F.round(
                F.sum(F.col("c20").cast("decimal(38,0)")).cast("double")
                / F.count("*")
                / 20_000_000,
                6,
            ).alias("winsorized_mean"),
        )
        .select(
            "event_type",
            "n_values",
            "n_clamped_low",
            "n_clamped_high",
            "winsorized_mean",
            F.round(F.col("p05_20").cast("double") / 20_000_000, 6).alias(
                "p05_value"
            ),
            F.round(F.col("p95_20").cast("double") / 20_000_000, 6).alias(
                "p95_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-free K-fold target encoding: encode c_mktsegment by the mean
# o_totalprice of orders OUTSIDE the row's own fold - the standard
# categorical-encoding primitive for gradient-boosted training, done the
# only way that doesn't leak the target. Folds are the deterministic
# md5-derived hash of the order key (mod 5), so both engines assign
# identically. The leave-fold-out mean needs only per-(segment, fold)
# partials: encoding(f) = (seg_sum - fold_sum)/(seg_cnt - fold_cnt),
# exact cent-unit integers until one final division.
#
# Scale notes (100 TB): one orders<->customer join keyed by custkey
# (big-big: sort-merge on the FK, never broadcast), one partial-agg
# combine into the bounded (segment x 5) grid; the leave-one-out window
# runs on 25 rows.
@query(
    "target_encoding_segment",
    oracle=f"""
    WITH j AS (
        SELECT c.c_mktsegment AS segment,
               {_ST_DH32.format(s="'te:' || CAST(o.o_orderkey AS VARCHAR)")}
                   % 5 AS fold,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT segment, fold,
               count(*) AS cnt,
               sum(CAST(cents AS HUGEINT)) AS s
        FROM j GROUP BY segment, fold
    )
    SELECT segment, fold,
           CAST(cnt AS BIGINT) AS n_rows,
           round(CAST(CAST(sum(s) OVER (PARTITION BY segment) - s AS VARCHAR) AS DOUBLE)
               / (sum(cnt) OVER (PARTITION BY segment) - cnt) / 100, 6)
               AS encoding_value
    FROM g
    """,
)
def target_encoding_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            _ST_SH32.format(s="concat('te:', cast(o_orderkey as string))")
        ).alias("h"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "segment", (F.col("h") % 5).alias("fold"), "cents"
    )
    g = j.groupBy("segment", "fold").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
    )
    wseg = W.partitionBy("segment")
    return g.select(
        "segment",
        "fold",
        F.col("cnt").cast("bigint").alias("n_rows"),
        F.round(
            (F.sum("s").over(wseg) - F.col("s")).cast("double")
            / (F.sum("cnt").over(wseg) - F.col("cnt"))
            / 100,
            6,
        ).alias("encoding_value"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profile of orders-per-customer: the diagnostic a planner
# (or a human) reads before choosing salting vs AQE skew-join. Emits the
# key count, max/top-share, mean, and the GINI coefficient of the count
# distribution - computed from the COUNTS-OF-COUNTS histogram, not the
# per-key relation: Gini's pairwise |xi-xj| sum collapses to a window
# over the bounded histogram (sum_pairs = 2*sum_i n_i*(x_i*cumN_prev -
# cumS_prev) for ascending distinct x), every term an exact integer.
#
# Scale notes (100 TB): per-key counts are one custkey-keyed partial
# agg; the histogram (distinct count VALUES - dozens of rows at any
# scale) is the only thing the global window ever sees. No per-key sort,
# no quadratic pair expansion.
@query(
    "skew_profile_orders",
    oracle="""
    WITH cnts AS (
        SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
    ),
    hist AS (SELECT c, count(*) AS n FROM cnts GROUP BY c),
    cum AS (
        SELECT c, n,
               coalesce(sum(n) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_n_prev,
               coalesce(sum(n * c) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_s_prev
        FROM hist
    ),
    m AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_keys,
               CAST(sum(CAST(n AS HUGEINT) * c) AS BIGINT) AS n_orders,
               CAST(max(c) AS BIGINT) AS max_orders,
               CAST(CAST(sum(2 * CAST(n AS HUGEINT)
                   * (CAST(c AS HUGEINT) * cum_n_prev - cum_s_prev)) AS VARCHAR) AS DOUBLE) AS pair_sum
        FROM cum
    )
    SELECT n_keys, n_orders, max_orders,
           round(CAST(max_orders AS DOUBLE) / n_orders, 6) AS top_share,
           round(CAST(n_orders AS DOUBLE) / n_keys, 6) AS mean_orders,
           round(pair_sum
               / (CAST(n_keys AS DOUBLE) * n_keys)
               / (2 * CAST(n_orders AS DOUBLE) / n_keys), 6) AS gini_value
    FROM m
    """,
)
def skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c"))
    )
    hist = cnts.groupBy("c").agg(F.count("*").alias("n"))
    wprev = W.orderBy("c").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "c",
        "n",
        F.coalesce(F.sum("n").over(wprev), F.lit(0)).alias("cum_n_prev"),
        F.coalesce(F.sum(F.col("n") * F.col("c")).over(wprev), F.lit(0)).alias(
            "cum_s_prev"
        ),
    )
    nd = F.col("n").cast("decimal(38,0)")
    cd = F.col("c").cast("decimal(38,0)")
    m = cum.agg(
        F.sum("n").cast("bigint").alias("n_keys"),
        F.sum(nd * F.col("c")).cast("bigint").alias("n_orders"),
        F.max("c").cast("bigint").alias("max_orders"),
        F.sum(
            F.lit(2)
            * nd
            * (cd * F.col("cum_n_prev") - F.col("cum_s_prev"))
        )
        .cast("double")
        .alias("pair_sum"),
    )
    nk = F.col("n_keys").cast("double")
    no = F.col("n_orders").cast("double")
    return m.select(
        "n_keys",
        "n_orders",
        "max_orders",
        F.round(F.col("max_orders").cast("double") / F.col("n_orders"), 6).alias(
            "top_share"
        ),
        F.round(no / F.col("n_keys"), 6).alias("mean_orders"),
        F.round(
            F.col("pair_sum") / (nk * F.col("n_keys")) / (F.lit(2) * no / nk), 6
        ).alias("gini_value"),
    )


# ---------------------------------------------------------------------------
# Pointwise mutual information of (lang, source) over documents: which
# corpus sources over/under-produce which languages - the co-occurrence
# diagnostic behind sampling-weight decisions. Output is one row per
# observed cell: observed count, expected count under independence, and
# PMI = ln(n_ij * N / (n_i * n_j)). Emitting PER-CELL values (not a
# summed MI scalar) keeps every number a deterministic function of four
# exact integers - a global MI sum would accumulate doubles in
# engine-dependent order.
#
# Scale notes (100 TB): three partial-agg combines over documents into
# bounded relations (cells, langs, sources); the marginal joins
# broadcast (bounded category sets).
@query(
    "pmi_lang_source",
    oracle="""
    WITH cell AS (
        SELECT lang, source, count(*) AS n_ij
        FROM documents GROUP BY lang, source
    ),
    ml AS (SELECT lang, count(*) AS n_i FROM documents GROUP BY lang),
    ms AS (SELECT source, count(*) AS n_j FROM documents GROUP BY source),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT cell.lang, cell.source,
           CAST(n_ij AS BIGINT) AS n_docs,
           round(CAST(n_i AS DOUBLE) * n_j / n, 6) AS expected_docs,
           round(ln(CAST(n_ij AS DOUBLE) * n
               / (CAST(n_i AS DOUBLE) * n_j)), 6) AS pmi_value
    FROM cell
    JOIN ml USING (lang)
    JOIN ms USING (source)
    CROSS JOIN tot
    """,
)
def pmi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): at fixture scale the 4 duplicated
    # narrow scans ride idle cores and an unconditional persist LOST
    # (r16 A/B min-of-3 0.30s -> 0.44s), but at corpus scale the 4x
    # re-scan is pure added I/O, so the persist engages once the scan
    # fills the cores (the rule in caches.persist_when_scaled).
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    docs = caches.persist_when_scaled(docs, docs)
    cell = docs.groupBy("lang", "source").agg(F.count("*").alias("n_ij"))
    ml = docs.groupBy("lang").agg(F.count("*").alias("n_i"))
    ms = docs.groupBy("source").agg(F.count("*").alias("n_j"))
    tot = docs.agg(F.count("*").alias("n"))
    nid = F.col("n_i").cast("double")
    nijd = F.col("n_ij").cast("double")
    return (
        cell.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.col("n_ij").cast("bigint").alias("n_docs"),
            F.round(nid * F.col("n_j") / F.col("n"), 6).alias("expected_docs"),
            F.round(
                F.log(nijd * F.col("n") / (nid * F.col("n_j"))), 6
            ).alias("pmi_value"),
        )
    )

# ---------------------------------------------------------------------------
# OLS trend of the daily-total series: slope/intercept/r2 of value
# regressed on the day index - "is the metric growing, and how fast?".
# The day index is datediff from the series minimum (calendar-exact,
# join-free via one broadcast scalar), y is the exact micro-unit total;
# all five regression moments are exact integers (decimal(38,0)/
# HUGEINT), and slope/intercept/r2 are one IEEE sequence each, mirrored
# operation-for-operation in the oracle.
#
# Scale notes (100 TB): one events->day shuffle; moments are a 1-row
# partial-combined agg over the bounded daily series.
@query(
    "daily_trend_ols",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT date_diff('day', (SELECT min(day) FROM daily), day) AS x, v
        FROM daily
    ),
    m AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               sum(v) AS sy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * v) AS VARCHAR) AS DOUBLE) AS sxy
        FROM idx
    )
    SELECT n AS n_days,
           round((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
               / (n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx) / 1000000, 6)
               AS slope_value,
           round((CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                  - (n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
                    / (n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx) * sx)
               / n / 1000000, 6) AS intercept_value,
           round((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
               * (n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
               / ((n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx)
                  * (n * syy - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * sy)), 6) AS r2_value
    FROM m
    """,
)
def daily_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_micro(spark, sf_dir)
    mn = daily.agg(F.min("day").alias("day0"))
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff("day", "day0").alias("x"), "v"
    )
    xd = F.col("x").cast("decimal(38,0)")
    vd = F.col("v").cast("decimal(38,0)")
    m = idx.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        # r12: the value-series total stays decimal (internal moment; a
        # year of 100 TB days crosses int64) - see autocorr_daily_value.
        F.sum(vd).alias("sy"),
        F.sum(xd * F.col("x")).cast("double").alias("sxx"),
        F.sum(vd * F.col("v")).cast("double").alias("syy"),
        F.sum(xd * F.col("v")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = n * F.col("sxy") - sxd * F.col("sy")
    varx = n * F.col("sxx") - sxd * F.col("sx")
    vary = n * F.col("syy") - syd * F.col("sy")
    return m.select(
        n.alias("n_days"),
        F.round(cov / varx / 1_000_000, 6).alias("slope_value"),
        F.round(
            (syd - cov / varx * F.col("sx")) / n / 1_000_000, 6
        ).alias("intercept_value"),
        F.round(cov * cov / (varx * vary), 6).alias("r2_value"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint scan over the daily-total series: the day where the
# mean-centered cumulative sum peaks in magnitude - the classic "did the
# level shift, and when?" detector. Division-free exactness: centering
# is done in an n-scaled integer domain (d_j = v_j*n - total, so
# cusum_i = sum d_j is an exact decimal(38,0)/HUGEINT), and only the
# final reported magnitude divides back by n*1e6. Tie -> earliest day.
#
# Scale notes (100 TB): one events->day shuffle; the cumulative window
# and the top-1 pick both run on the bounded daily series
# (TakeOrderedAndProject for the pick).
@query(
    "cusum_changepoint_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
        FROM daily_src GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n, CAST(sum(v) AS HUGEINT) AS s FROM daily),
    cus AS (
        SELECT day,
               sum(CAST(v AS HUGEINT) * n - s)
                   OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c,
               n
        FROM daily CROSS JOIN tot
    )
    SELECT day AS change_day,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_days,
           round(CAST(CAST(abs(c) AS VARCHAR) AS DOUBLE) / n / 1000000, 6) AS max_cusum_value
    FROM cus
    ORDER BY abs(c) DESC, day
    LIMIT 1
    """.replace(
        "daily_src", "events"
    ),
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_micro(spark, sf_dir)
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cus = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.sum(
            F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s")
        )
        .over(wcum)
        .alias("c"),
        "n",
    )
    return (
        cus.orderBy(F.abs(F.col("c")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("n").cast("bigint").alias("n_days"),
            F.round(
                F.abs(F.col("c")).cast("double") / F.col("n") / 1_000_000, 6
            ).alias("max_cusum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile per event type: event volume and exact
# mean value by ISO weekday - the workload-shaping diagnostic (and the
# denominator for the seasonal-naive model above). ISO numbering is the
# cross-engine bridge: Spark weekday() (Mon=0) + 1 == DuckDB isodow
# (Mon=1). The share denominator is a per-type window over the bounded
# (type x 7) grid.
#
# Scale notes (100 TB): one (type, dow) partial-agg combine; everything
# after runs on <= 7*#types rows.
@query(
    "dow_seasonality_profile",
    oracle="""
    WITH g AS (
        SELECT event_type, isodow(CAST(ts AS DATE)) AS dow_iso,
               count(*) AS n_events,
               sum(CAST(floor(value * 1000000) AS HUGEINT)) AS s
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, dow_iso,
           CAST(n_events AS BIGINT) AS n_events,
           round(CAST(CAST(s AS VARCHAR) AS DOUBLE) / n_events / 1000000, 6) AS mean_value,
           round(CAST(n_events AS DOUBLE)
               / sum(n_events) OVER (PARTITION BY event_type), 6)
               AS share_of_type
    FROM g
    """,
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.weekday("ts") + 1).alias("dow_iso"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
        )
        .groupBy("event_type", "dow_iso")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("u6").cast("decimal(38,0)")).alias("s"),
        )
    )
    wtype = W.partitionBy("event_type")
    return g.select(
        "event_type",
        "dow_iso",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(
            F.col("s").cast("double") / F.col("n_events") / 1_000_000, 6
        ).alias("mean_value"),
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(wtype), 6
        ).alias("share_of_type"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit test on o_totalprice: observed leading-digit
# distribution vs Benford's law with per-digit chi-square contributions
# - the standard synthetic-data / fraud smell test. The digit extraction
# is pure string arithmetic on the floored integer part (prices >= 1 in
# the fixture; a 0-floor row would be excluded by the digit BETWEEN
# filter, keeping the op total-safe). Expected shares are
# log10(1 + 1/d) - nine constant cells, same library call both engines,
# each emitted per-row (never re-summed).
#
# Scale notes (100 TB): stateless per-row digit projection into a
# 9-bucket partial agg; the Benford expectation join is against a
# 9-row relation.
@query(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
    ),
    g AS (
        SELECT digit, count(*) AS n FROM d
        WHERE digit BETWEEN 1 AND 9 GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
    SELECT digit,
           CAST(n AS BIGINT) AS n_orders,
           round(CAST(n AS DOUBLE) / total, 6) AS observed_share,
           round(log10(1 + 1.0 / digit), 6) AS benford_share,
           round((CAST(n AS DOUBLE) - total * log10(1 + 1.0 / digit))
               * (CAST(n AS DOUBLE) - total * log10(1 + 1.0 / digit))
               / (total * log10(1 + 1.0 / digit)), 6) AS chi2_contrib
    FROM g CROSS JOIN tot
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    g = (
        d.where(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = g.agg(F.sum("n").cast("bigint").alias("total"))
    nd = F.col("n").cast("double")
    totd = F.col("total")
    bshare = F.log10(1 + 1.0 / F.col("digit"))
    return g.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(nd / totd, 6).alias("observed_share"),
        F.round(bshare, 6).alias("benford_share"),
        F.round(
            (nd - totd * bshare) * (nd - totd * bshare) / (totd * bshare), 6
        ).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# Rate-limit / frequency-cap accounting: flag every event past the first
# _RL_CAP in its (user, clock-hour) bucket and report the throttle rate
# per event type - the API-quota / abuse-control primitive, expressed as
# one ordered window over a high-entropy composite key. Ordering within
# a bucket is (ts, event_id) - a total order, so the cap boundary is
# deterministic in both engines.
#
# Scale notes (100 TB): the window key (user_id, hour) has per-user-hour
# cardinality - thousands of tiny groups per executor, no global sort;
# the rollup after it is a bounded (type) partial agg. This is the exact
# batch twin of a streaming applyInPandasWithState limiter.
_RL_CAP = 3


@query(
    "rate_limit_flags",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type,
               row_number() OVER (
                   PARTITION BY user_id, date_trunc('hour', ts)
                   ORDER BY ts, event_id
               ) AS rn
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN rn > {_RL_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_throttled,
           round(CAST(CAST(sum(CASE WHEN rn > {_RL_CAP} THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) / count(*), 6) AS throttle_rate
    FROM ranked
    GROUP BY event_type
    """,
)
def rate_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "ts", "event_id"
    )
    wb = W.partitionBy("user_id", F.date_trunc("hour", F.col("ts"))).orderBy(
        "ts", "event_id"
    )
    ranked = ev.select(
        "event_type", F.row_number().over(wb).alias("rn")
    )
    throttled = F.sum(F.when(F.col("rn") > _RL_CAP, 1).otherwise(0))
    return ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        throttled.cast("bigint").alias("n_throttled"),
        F.round(throttled.cast("double") / F.count("*"), 6).alias(
            "throttle_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Seasonally-adjusted anomaly days: flag (event_type, day) totals more
# than 2 population-sigmas from their own (type, ISO-weekday) mean -
# the monitoring alarm that doesn't fire every weekend. Division-free
# z-score: z = (n*v - s) / sqrt(n*sxx - s^2) over exact micro-unit
# moments, so the 2-sigma comparison and the emitted z are single IEEE
# sequences on identical integers. Cells with n < 3 days are skipped
# (sigma of a near-empty cell is noise, and n=1 would divide by zero).
# The threshold is 1.5 sigma: with the fixtures' ~5 days per cell the
# population z is mathematically bounded by sqrt(n-1) = 2, so a 2-sigma
# gate can NEVER fire on a 5-sample cell - 1.5 keeps the gate honest at
# any cell depth (the alarm semantics are threshold-agnostic).
#
# Scale notes (100 TB): one events->(type, day) shuffle; the moment
# table is bounded (7 x #types) and broadcasts back onto the bounded
# daily relation.
_ANOM_SIGMA = 1.5
_ANOM_MIN_DAYS = 3


@query(
    "dow_adjusted_anomaly_days",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               isodow(CAST(ts AS DATE)) AS dow_iso,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2, 3
    ),
    m AS (
        SELECT event_type, dow_iso, count(*) AS n,
               sum(v) AS s,
               CAST(CAST(sum(CAST(v AS HUGEINT) * v) AS VARCHAR) AS DOUBLE) AS sxx
        FROM daily GROUP BY event_type, dow_iso
    )
    SELECT d.event_type, d.day,
           round(CAST(v AS DOUBLE) / 1000000, 6) AS day_value,
           round((n * CAST(v AS DOUBLE) - s)
               / sqrt(n * sxx - CAST(CAST(s AS VARCHAR) AS DOUBLE) * s), 6) AS z_value
    FROM daily d JOIN m ON m.event_type = d.event_type
                       AND m.dow_iso = d.dow_iso
    WHERE n >= {_ANOM_MIN_DAYS}
      AND abs((n * CAST(v AS DOUBLE) - s)
              / sqrt(n * sxx - CAST(CAST(s AS VARCHAR) AS DOUBLE) * s)) > {_ANOM_SIGMA}
    """,
)
def dow_adjusted_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            (F.weekday("ts") + 1).alias("dow_iso"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
        )
        .groupBy("event_type", "day", "dow_iso")
        # r12: decimal accumulation + bigint output cast (same daily-u6
        # class as _daily_micro; raises loudly past int64 under ANSI).
        .agg(F.sum(F.col("u6").cast("decimal(38,0)")).cast("bigint").alias("v"))
    )
    vd = F.col("v").cast("decimal(38,0)")
    m = daily.groupBy("event_type", "dow_iso").agg(
        F.count("*").alias("n"),
        # r12: per-(type,dow) series total stays decimal (internal).
        F.sum(vd).alias("s"),
        F.sum(vd * F.col("v")).cast("double").alias("sxx"),
    )
    z = (F.col("n") * F.col("v").cast("double") - F.col("s")) / F.sqrt(
        F.col("n") * F.col("sxx") - F.col("s").cast("double") * F.col("s")
    )
    return (
        daily.join(F.broadcast(m), ["event_type", "dow_iso"])
        .where((F.col("n") >= _ANOM_MIN_DAYS) & (F.abs(z) > _ANOM_SIGMA))
        .select(
            "event_type",
            "day",
            F.round(F.col("v").cast("double") / 1_000_000, 6).alias(
                "day_value"
            ),
            F.round(z, 6).alias("z_value"),
        )
    )


# ---------------------------------------------------------------------------
# Population stability index (PSI) drift report: the first vs the last
# calendar week of the value distribution, per event type, over 10
# fixed-width buckets - the ML-monitoring standard for "did my feature
# distribution move?". Emitted PER CELL (type, bucket): baseline/current
# counts, exact shares, and psi_term = (q - p) * ln(q / p) rounded to 6
# (the pmi_lang_source ln pattern); cells empty on either side emit a
# NULL term (the consumer's epsilon policy is theirs to choose), so no
# engine-dependent float summation ever happens - the per-type PSI is
# the reader's bounded fold.
#
# Scale notes (100 TB): two stats-only min/max scans broadcast the week
# anchors; one (type, bucket, week) partial agg over events; everything
# downstream is bounded (types x 10 buckets).
@query(
    "psi_value_drift",
    oracle="""
    WITH anchors AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events
    ),
    bucketed AS (
        SELECT event_type,
               least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket,
               CASE WHEN CAST(ts AS DATE) < d0 + 7 THEN 'base'
                    WHEN CAST(ts AS DATE) > d1 - 7 THEN 'cur'
               END AS wk
        FROM events CROSS JOIN anchors
    ),
    cells AS (
        SELECT event_type, bucket,
               CAST(count(*) FILTER (wk = 'base') AS BIGINT) AS n_base,
               CAST(count(*) FILTER (wk = 'cur') AS BIGINT) AS n_cur
        FROM bucketed WHERE wk IS NOT NULL
        GROUP BY event_type, bucket
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(n_base) AS BIGINT) AS t_base,
               CAST(sum(n_cur) AS BIGINT) AS t_cur
        FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.bucket, c.n_base, c.n_cur,
           CAST(c.n_base AS DOUBLE) / t.t_base AS p_base,
           CAST(c.n_cur AS DOUBLE) / t.t_cur AS p_cur,
           CASE WHEN c.n_base > 0 AND c.n_cur > 0 THEN
               round((CAST(c.n_cur AS DOUBLE) / t.t_cur
                      - CAST(c.n_base AS DOUBLE) / t.t_base)
                     * ln((CAST(c.n_cur AS DOUBLE) * t.t_base)
                          / (CAST(c.n_base AS DOUBLE) * t.t_cur)), 6)
           END AS psi_term
    FROM cells c JOIN tot t ON t.event_type = c.event_type
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.to_date("ts").alias("day")
    )
    anchors = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    wk = (
        F.when(F.col("day") < F.date_add(F.col("d0"), 7), "base")
        .when(F.col("day") > F.date_sub(F.col("d1"), 7), "cur")
    )
    bucket = F.least(
        F.floor(F.col("value") / 50).cast("bigint"), F.lit(9).cast("bigint")
    )
    cells = (
        ev.join(F.broadcast(anchors))
        .select("event_type", bucket.alias("bucket"), wk.alias("wk"))
        .where(F.col("wk").isNotNull())
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.when(F.col("wk") == "base", 1)).alias("n_base"),
            F.count(F.when(F.col("wk") == "cur", 1)).alias("n_cur"),
        )
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    nb, nc = F.col("n_base").cast("double"), F.col("n_cur").cast("double")
    tb, tc = F.col("t_base"), F.col("t_cur")
    term = F.when(
        (F.col("n_base") > 0) & (F.col("n_cur") > 0),
        F.round(
            (nc / tc - nb / tb) * F.log((nc * tb) / (nb * tc)), 6
        ),
    )
    return cells.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bucket",
        "n_base",
        "n_cur",
        (nb / tb).alias("p_base"),
        (nc / tc).alias("p_cur"),
        term.alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# Categorical-column entropy profile across the warehouse: Shannon
# entropy (nats) of every low-cardinality string column the suite
# queries group by - the profiling number behind "is this column worth
# bucketing/encoding?". Each column's entropy is a sum over its
# categories of p*ln(1/p); to keep the cross-category SUM deterministic
# the per-category terms quantize to nano-units FIRST
# (floor(p*ln(1/p)*1e9), the unigram_logprob_filter rule) and the sum
# runs on exact bigints. One bounded row per column.
#
# Scale notes (100 TB): each profiled column is one partial-agg scan
# into a bounded category set; the six scans are independent (a real
# profiler batches them per table - here they stay separate so each
# stays one narrow-column scan).
@query(
    "column_entropy_profile",
    oracle="""
    WITH src AS (
        SELECT 'events.event_type' AS column_name, event_type AS v FROM events
        UNION ALL
        SELECT 'orders.o_orderstatus', o_orderstatus FROM orders
        UNION ALL
        SELECT 'orders.o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'documents.lang', lang FROM documents
        UNION ALL
        SELECT 'documents.source', source FROM documents
        UNION ALL
        SELECT 'customer.c_mktsegment', c_mktsegment FROM customer
    ),
    cat AS (
        SELECT column_name, v, count(*) AS c FROM src GROUP BY 1, 2
    ),
    tot AS (
        SELECT column_name, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM cat GROUP BY column_name
    ),
    terms AS (
        SELECT c.column_name,
               CAST(floor((CAST(c.c AS DOUBLE) / t.n)
                          * ln(CAST(t.n AS DOUBLE) / c.c) * 1000000000)
                    AS BIGINT) AS e9
        FROM cat c JOIN tot t ON t.column_name = c.column_name
    )
    SELECT t.column_name, t.n AS n_rows, t.n_distinct,
           CAST(sum(e9) AS BIGINT) AS entropy_n9
    FROM terms s
    JOIN tot t ON t.column_name = s.column_name
    GROUP BY t.column_name, t.n, t.n_distinct
    """,
)
def column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = (
        ("events", "event_type"),
        ("orders", "o_orderstatus"),
        ("orders", "o_orderpriority"),
        ("documents", "lang"),
        ("documents", "source"),
        ("customer", "c_mktsegment"),
    )
    src = None
    for tbl, col in cols:
        part = load_table(spark, sf_dir, tbl).select(
            F.lit(f"{tbl}.{col}").alias("column_name"), F.col(col).alias("v")
        )
        src = part if src is None else src.unionAll(part)
    # Scale-gated persist (r17): `cat` feeds the per-column totals and
    # the entropy join - 2 runs of the 6-table union scan per plan.
    # No-op at fixture scale (the r16 cheap-subtree lesson); at corpus
    # scale the re-scan of every profiled table is pure added I/O, so
    # the per-(column, value) counts persist once the scan of the
    # DOMINANT input (events - the gate base) fills the cores.
    cat = src.groupBy("column_name", "v").agg(F.count("*").alias("c"))
    cat = caches.persist_when_scaled(cat, load_table(spark, sf_dir, "events"))
    tot = cat.groupBy("column_name").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    e9 = F.floor(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(F.col("n").cast("double") / F.col("c"))
        * 1_000_000_000
    ).cast("bigint")
    return (
        cat.join(F.broadcast(tot), "column_name")
        .select("column_name", "n", "n_distinct", e9.alias("e9"))
        .groupBy("column_name", F.col("n").alias("n_rows"), "n_distinct")
        # r12 late sweep: e9 terms (<= ~3.7e8 each) sum over the
        # DISTINCT-VALUE count, which is corpus-scale for id-like
        # columns (~1e12 x 3.7e8 >> int64) - decimal accumulation,
        # bigint output cast like the oracle.
        .agg(
            F.sum(F.col("e9").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("entropy_n9")
        )
    )


# ---------------------------------------------------------------------------
# Daily percentile bands: exact interpolated p50/p90 of event value per
# day - the band chart behind every latency/value SLA dashboard. Same
# exactness trick as winsorized_stats_by_type: for q = k/10 the
# interpolated percentile times 10 is an integer in micro-units
# (both engines' linear-interpolation rule), so the hash check is exact.
#
# Scale notes (100 TB): one day-keyed percentile agg (Spark's exact
# percentile does a per-group sort within the aggregate - the group is
# one day of values, the operative bound); output is calendar-bounded.
@query(
    "daily_value_percentile_bands",
    oracle="""
    WITH v AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000000) AS BIGINT) AS vm
        FROM events
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(round(quantile_cont(vm, 0.5) * 10) AS BIGINT) AS p50_u6_x10,
           CAST(round(quantile_cont(vm, 0.9) * 10) AS BIGINT) AS p90_u6_x10
    FROM v GROUP BY day
    """,
)
def daily_value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
    )
    return v.groupBy("day").agg(
        F.count("*").alias("n_values"),
        F.round(F.expr("percentile(vm, 0.5)") * 10)
        .cast("bigint")
        .alias("p50_u6_x10"),
        F.round(F.expr("percentile(vm, 0.9)") * 10)
        .cast("bigint")
        .alias("p90_u6_x10"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence over the (lang x source) contingency
# table - the categorical-association test run next to PMI/KL when
# auditing whether a corpus dimension is independent of its provenance.
# Emits one row per cell with the observed count, expected count, and
# the cell's chi-square contribution, plus the table-level statistic and
# degrees of freedom repeated on every row (the bounded-cell analog of
# the benford/calibration output shapes).
#
# Determinism: every per-cell quantity is EXACT integer arithmetic -
# expected and the chi term are micro-unit floor divisions of decimal38/
# HUGEINT products ((o*N - r*c)^2 * 1e6 // (r*c*N)); the only doubles
# are single divisions of exact integers, identical in both engines.
#
# Scale notes (100 TB): one (lang, source) map-side-combinable agg over
# the corpus; everything downstream runs on the bounded cell relation
# (|langs| x |sources| rows) with broadcast margins - no second corpus
# pass, no unbounded window.
@query(
    "chi_square_lang_source",
    oracle="""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_obs
        FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    ct AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM cells),
    terms AS (
        SELECT cells.lang, cells.source, n_obs,
               CAST((CAST(r AS HUGEINT) * c * 1000000) // n AS BIGINT)
                   AS expected_u6,
               CAST(((CAST(n_obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * (CAST(n_obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * 1000000)
                    // (CAST(r AS HUGEINT) * c * n) AS BIGINT)
                   AS chi_term_u6
        FROM cells
        JOIN rt USING (lang)
        JOIN ct USING (source)
        CROSS JOIN tot
    ),
    stats AS (
        SELECT CAST(sum(chi_term_u6) AS BIGINT) AS total_u6,
               CAST(count(DISTINCT lang) AS BIGINT) AS nl,
               CAST(count(DISTINCT source) AS BIGINT) AS ns
        FROM terms
    )
    SELECT lang, source, n_obs, expected_u6, chi_term_u6,
           CAST(total_u6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS chi2,
           (nl - 1) * (ns - 1) AS dof
    FROM terms CROSS JOIN stats
    """,
)
def chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    # Scale-gated persist (r17): the grid feeds 4 consumers (rt/ct/tot/
    # terms), each re-running the docs scan + groupBy - 8 duplicated
    # scans per plan. At fixture scale an unconditional persist LOST
    # (r16 A/B min-of-3 0.79s -> 0.97s: idle cores hide the duplication);
    # at corpus scale the re-scans are pure added I/O, so the tiny
    # (lang x source) grid persists once the scan fills the cores.
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("n_obs"))
    cells = caches.persist_when_scaled(cells, docs)
    rt = cells.groupBy("lang").agg(F.sum("n_obs").cast("bigint").alias("r"))
    ct = cells.groupBy("source").agg(F.sum("n_obs").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("n_obs").cast("bigint").alias("n"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    diff = d38("n_obs") * d38("n") - d38("r") * d38("c")
    terms = (
        cells.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .join(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_obs",
            F.expr(
                "CAST((CAST(r AS DECIMAL(38,0)) * c * 1000000) div n"
                " AS BIGINT)"
            ).alias("expected_u6"),
            (diff * diff * F.lit(1_000_000).cast("decimal(38,0)"))
            .alias("_num"),
            (d38("r") * d38("c") * d38("n")).alias("_den"),
        )
        .select(
            "lang",
            "source",
            "n_obs",
            "expected_u6",
            F.expr("CAST(_num div _den AS BIGINT)").alias("chi_term_u6"),
        )
    )
    stats = terms.agg(
        # r12 late sweep: a fully-dependent contingency table puts each
        # chi term near N x 1e6 (~1e18 at design scale), so the bounded
        # grid still sums past int64 - decimal accumulation, bigint out.
        F.sum(F.col("chi_term_u6").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("total_u6"),
        F.count_distinct("lang").alias("nl"),
        F.count_distinct("source").alias("ns"),
    )
    return terms.join(F.broadcast(stats)).select(
        "lang",
        "source",
        "n_obs",
        "expected_u6",
        "chi_term_u6",
        (
            F.col("total_u6").cast("double") / F.lit(1_000_000).cast("double")
        ).alias("chi2"),
        ((F.col("nl") - 1) * (F.col("ns") - 1)).alias("dof"),
    )


# ---------------------------------------------------------------------------
# Per-entity OLS trend slope - the group-wise version of
# daily_trend_ols (extras.py computes ONE global slope; feature stores
# want one per user: "is this user's value trending up?"). Closed-form
# regression of value on event day per user, computed entirely from the
# five per-group integer moments (n, Sx, Sy, Sxx, Sxy) so the whole
# operator is ONE map-side-combinable groupBy - the canonical way to fit
# millions of tiny models at 100 TB (no per-group iteration, no window).
#
# Determinism: x is the exact integer day index, y quantizes to exact
# micro-units; all five moments are exact integer sums
# (decimal(38,0)/HUGEINT), the slope numerator/denominator stay exact
# integers until ONE double cast each, then the same two IEEE divisions
# both engines (1e6 exactly representable). Degenerate users (zero
# x-variance: all events one day) are filtered by the EXACT integer
# denominator - no float-boundary membership risk.
#
# Scale notes (100 TB): one shuffle on the high-entropy user_id with
# partial aggregation; output is one row per user. Day-index magnitude
# (~2e4) keeps n*Sxx inside decimal(38,0) exactness up to ~1e25 events
# per user - unreachable.
@query(
    "user_value_trend_slopes",
    oracle="""
    WITH e AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(floor(value * 1000000) AS BIGINT) AS y6
        FROM events
    ),
    m AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y6) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y6) AS HUGEINT) AS sxy
        FROM e GROUP BY 1
    )
    SELECT user_id, n_events,
           (CAST(CAST((n_events * sxy - sx * sy) AS VARCHAR) AS DOUBLE)
            / CAST(CAST((n_events * sxx - sx * sx) AS VARCHAR) AS DOUBLE))
               / 1e6 AS slope_per_day
    FROM m
    WHERE n_events * sxx - sx * sx <> 0
    """,
)
def user_value_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("x"),
        F.floor(F.col("value") * F.lit(1_000_000)).cast("bigint").alias("y6"),
    )
    m = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y6").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y6"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n38 = F.col("n_events").cast("decimal(38,0)")
    num = (n38 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_exact = n38 * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        m.where(den_exact != F.lit(0))
        .select(
            "user_id",
            "n_events",
            (num / den_exact.cast("double") / F.lit(1e6)).alias(
                "slope_per_day"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test between the click and purchase
# DAILY-total distributions - the nonparametric "are these two metrics
# drawn from the same distribution?" check that complements PSI (binned,
# reference-vs-current) with an exact max-ECDF-gap statistic. Exact KS
# needs a global order over the combined sample, so it runs on the
# CALENDAR-BOUNDED daily aggregate (<= #days rows per side) - the same
# bounded-series discipline as autocorr/holt above; running it on raw
# events would be a 100 TB global sort by design error.
#
# Determinism: daily totals are exact micro-unit integers; tied totals
# collapse via GROUP BY value BEFORE the cumulative window (ROWS frame
# over now-distinct values = total order); each ECDF point is one double
# division, the gap is |a/n1 - b/n2| with identical IEEE sequence both
# sides, and max over exactly-comparable doubles is order-insensitive.
# The 95% critical value uses the classic c(alpha)=1.358 large-sample
# constant (same literal -> same nearest-double in both engines).
#
# Scale notes (100 TB): one (type, day) fact shuffle with map-side
# partials; everything after runs on <= 2 x #days rows (the
# single-partition window is bounded by the calendar, not the corpus).
@query(
    "ks_test_click_vs_purchase",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS v
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
    ),
    g AS (
        SELECT v,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS c2
        FROM daily GROUP BY v
    ),
    cum AS (
        SELECT CAST(sum(c1) OVER w AS BIGINT) AS a1,
               CAST(sum(c2) OVER w AS BIGINT) AS a2
        FROM g
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2 FROM g),
    d AS (
        SELECT n1, n2,
               max(abs(CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2))
                   AS ks_d
        FROM cum CROSS JOIN tot GROUP BY n1, n2
    )
    SELECT n1 AS n_click_days, n2 AS n_purchase_days, ks_d,
           1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) * n2)) AS crit_value_95,
           CASE WHEN ks_d > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                                         / (CAST(n1 AS DOUBLE) * n2))
                THEN 1 ELSE 0 END AS reject_h0
    FROM d
    """,
)
def ks_test_click_vs_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        # r13 review: the _daily_micro class hiding behind the anonymous
        # alias `v` (the r12 name-keyed sweep keyed on micro-ish NAMES,
        # so it could not see this one) - per-day u6 totals accumulate
        # in decimal; bigint output cast raises loudly past int64 (ANSI),
        # mirroring the oracle's HUGEINT-sum-then-BIGINT-cast.
        .agg(
            F.sum(F.floor(F.col("value") * 1_000_000).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("v")
        )
    )
    g = daily.groupBy("v").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = g.select(
        F.sum("c1").over(wv).cast("bigint").alias("a1"),
        F.sum("c2").over(wv).cast("bigint").alias("a2"),
    )
    tot = g.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = (
        cum.join(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(
                    F.col("a1").cast("double") / F.col("n1")
                    - F.col("a2").cast("double") / F.col("n2")
                )
            ).alias("ks_d")
        )
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2"))
    )
    return d.select(
        F.col("n1").alias("n_click_days"),
        F.col("n2").alias("n_purchase_days"),
        "ks_d",
        crit.alias("crit_value_95"),
        F.when(F.col("ks_d") > crit, 1).otherwise(0).alias("reject_h0"),
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval for the mean event value - the
# distribution-free uncertainty estimate a metrics platform attaches to
# any reported mean. The classic multinomial bootstrap cannot be
# computed distributedly (it needs global coordination per resample);
# the Poisson(1) approximation draws each row's per-replica weight
# INDEPENDENTLY, which is exactly what a shared-nothing engine wants -
# and here the draws are md5-hash-derived, so both engines (and any
# rerun, at any partitioning) see the identical resamples.
#
# Determinism: the hash u is compared against PRECOMPUTED integer
# thresholds floor(CDF_Poisson(1)(k) * 2^32) - pure int comparisons, no
# float boundary anywhere in the draw; per-replica sums are exact
# integers (decimal(38,0)/HUGEINT) with ONE division per replica; the
# CI bounds are order statistics (rank 2 / 31 of 32 replica means, ~95%)
# picked by rank over the (mean, replica-id) total order.
#
# Scale notes (100 TB): the 32x explode is MAP-SIDE ONLY - the partial
# agg collapses each input split to <=32 rows before the exchange, so
# the wire carries 32 x #splits partials, never 32 x N rows; everything
# after runs on 32 rows. This is the textbook scalable bootstrap.
_BOOT_B = 32
# floor(2^32 * P(Poisson(1) <= k)) for k = 0..5; weight clamps at 6
_BOOT_CDF = [
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373, 4292415291,
]


def _boot_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "bootstrap_ci_event_value",
    oracle=f"""
    WITH e AS (
        SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS y6
        FROM events
    ),
    pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(CAST(sum(y6) AS VARCHAR) AS DOUBLE) / count(*) / 1e6
                   AS point_mean
        FROM e
    ),
    r AS (
        SELECT b.b,
               {_boot_weight_sql(_ST_DH32.format(s="concat('boot-', CAST(b.b AS VARCHAR), '-', CAST(e.event_id AS VARCHAR))"))}
                   AS w, e.y6
        FROM e CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                           AS b) b
    ),
    m AS (
        SELECT b, CAST(CAST(sum(CAST(w AS HUGEINT) * y6) AS VARCHAR)
                       AS DOUBLE)
                  / CAST(CAST(sum(w) AS VARCHAR) AS DOUBLE) / 1e6 AS mean_b
        FROM r GROUP BY b HAVING sum(w) > 0
    ),
    o AS (
        SELECT mean_b,
               row_number() OVER (ORDER BY mean_b, b) AS rn,
               count(*) OVER () AS n_reps
        FROM m
    )
    SELECT pt.n_events, pt.point_mean,
           max(CASE WHEN o.rn = 2 THEN o.mean_b END) AS ci_low_95,
           max(CASE WHEN o.rn = o.n_reps - 1 THEN o.mean_b END)
               AS ci_high_95,
           CAST(max(o.n_reps) AS BIGINT) AS n_replicas
    FROM o CROSS JOIN pt
    GROUP BY pt.n_events, pt.point_mean
    """,
)
def bootstrap_ci_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * F.lit(1_000_000)).cast("bigint").alias("y6"),
    )
    pt = e.agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.col("y6").cast("decimal(38,0)")).cast("double")
            / F.count("*")
            / F.lit(1e6)
        ).alias("point_mean"),
    )
    u = _ST_SH32.format(
        s="concat('boot-', cast(b as string), '-', cast(event_id as string))"
    )
    # The md5 draw is inlined into all six WHEN predicates DELIBERATELY:
    # codegen subexpression elimination already hoists a subexpression
    # that appears in every CASE predicate, so the hash evaluates once
    # per row as-is. An r16 attempt to materialize it into its own
    # projection first measured ~10% SLOWER on the isolated stage
    # (interleaved min-of-3: inline 3.08s vs hoisted 3.41s for the
    # |events| x B weight pass at sf0.1) - the extra Project buys
    # nothing the CSE doesn't already do and costs a wider intermediate.
    w_expr = F.expr(
        "CASE "
        + " ".join(
            f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
        )
        + " ELSE 6 END"
    )
    r = e.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
    ).select("b", w_expr.alias("w"), "y6")
    m = (
        r.groupBy("b")
        .agg(
            F.sum(F.col("w").cast("decimal(19,0)") * F.col("y6"))
            .cast("decimal(38,0)")
            .alias("swy"),
            F.sum("w").cast("bigint").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "b",
            (
                F.col("swy").cast("double")
                / F.col("sw").cast("double")
                / F.lit(1e6)
            ).alias("mean_b"),
        )
    )
    wd = W.orderBy("mean_b", "b")
    o = m.select(
        "mean_b",
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n_reps"),
    )
    return (
        o.join(F.broadcast(pt))
        .groupBy("n_events", "point_mean")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias(
                "ci_low_95"
            ),
            F.max(
                F.when(F.col("rn") == F.col("n_reps") - 1, F.col("mean_b"))
            ).alias("ci_high_95"),
            F.max("n_reps").cast("bigint").alias("n_replicas"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA control chart per event type: daily event counts smoothed with a
# truncated exponentially-weighted moving average (alpha = 0.25, lookback
# 20 days), banded at +-3 sigma of the type's daily-count distribution,
# with out-of-control flags - the monitoring chart (NIST/SPC "EWMA
# chart") that catches small sustained shifts a fixed-threshold alert
# misses. Complements cusum_changepoint_daily (retrospective change
# point) with the ONLINE control-limit form.
#
# Determinism: the 20 weights (0.75^j) are exact dyadic doubles emitted
# as literals - both engines parse the identical values; the weighted
# sum is ORDER-INSENSITIVE despite being a double agg, because every
# term w*px = px * 3^j / 4^19 is an exact integer multiple of 4^-19
# (px * 3^j < 2^53 at any realistic daily count), so every partial sum
# of <= 20 terms is exactly representable and FP addition is
# associative on this set - no ulp hazard across Spark's partial-agg
# merge orders (re-examined r9 review; same argument covers sum(w)).
# The single division and round(.,6) then run on exact inputs; sigma
# comes from exact integer moments with one sqrt.
#
# Scale notes (100 TB): the corpus collapses to the bounded
# (type x day) table in ONE map-side-partial shuffle; the 20-day
# lag self-join and every window run on that bounded table.
_EWMA_LOOKBACK = 20
# 0.75^j is dyadic (3^j / 4^j), exactly representable for j <= 33, so
# repr() round-trips to the identical double in Spark and DuckDB
_EWMA_W = [repr(0.75**j) for j in range(_EWMA_LOOKBACK)]


@query(
    "ewma_control_chart",
    oracle=f"""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    sig AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM d GROUP BY 1
    ),
    lagged AS (
        SELECT c.event_type, c.day, c.x,
               CASE date_diff('day', p.day, c.day)
                 {' '.join(f"WHEN {j} THEN {w}" for j, w in enumerate(_EWMA_W))}
               END AS w,
               p.x AS px
        FROM d c JOIN d p
          ON p.event_type = c.event_type
         AND date_diff('day', p.day, c.day)
             BETWEEN 0 AND {_EWMA_LOOKBACK - 1}
    ),
    ew AS (
        SELECT event_type, day, min(x) AS x,
               sum(w * CAST(px AS DOUBLE)) / sum(w) AS ewma
        FROM lagged GROUP BY 1, 2
    )
    SELECT e.event_type, e.day, e.x, round(e.ewma, 6) AS ewma_round,
           round(sqrt((CAST(CAST(s.sxx AS VARCHAR) AS DOUBLE)
                       - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)
                         / CAST(s.n_days AS DOUBLE))
                      / CAST(s.n_days AS DOUBLE)), 6) AS sigma_round,
           abs(CAST(CAST(e.x AS VARCHAR) AS DOUBLE) - e.ewma)
               > 3.0 * sqrt((CAST(CAST(s.sxx AS VARCHAR) AS DOUBLE)
                       - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)
                         / CAST(s.n_days AS DOUBLE))
                      / CAST(s.n_days AS DOUBLE)) AS out_of_control
    FROM ew e JOIN sig s ON s.event_type = e.event_type
    """,
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): the (type, day) count grid feeds sig
    # and both sides of the lag self-join - 3 events scans per plan.
    # No-op at fixture scale (the r16 cheap-subtree lesson); at corpus
    # scale the bounded grid persists and the re-scans collapse to one.
    ev_scan = load_table(spark, sf_dir, "events")
    d = (
        ev_scan
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    d = caches.persist_when_scaled(d, ev_scan)
    # daily-count squares through a decimal accumulator (the pattern the
    # OLS/trend moments above already use): at a 100 TB/day stream a
    # single (type, day) count reaches ~3e9+, whose SQUARE alone passes
    # 2^63 - Spark's raw BIGINT product/sum fails there (ANSI raises;
    # with ANSI off it wraps SILENTLY - r13 behavior pins) while
    # DuckDB errors loudly (r10 review finding, same class as the
    # degree_powerlaw_check fix). sx is safe: bounded by total events.
    sig = d.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
    )
    c, p = d.alias("c"), d.alias("p")
    dd = F.datediff(F.col("c.day"), F.col("p.day"))
    w = F.when(dd == 0, F.expr(_EWMA_W[0]))
    for j in range(1, _EWMA_LOOKBACK):
        w = w.when(dd == j, F.expr(_EWMA_W[j]))
    lagged = c.join(
        p,
        (F.col("p.event_type") == F.col("c.event_type"))
        & dd.between(0, _EWMA_LOOKBACK - 1),
    ).select(
        F.col("c.event_type").alias("event_type"),
        F.col("c.day").alias("day"),
        F.col("c.x").alias("x"),
        w.alias("w"),
        F.col("p.x").alias("px"),
    )
    ew = lagged.groupBy("event_type", "day").agg(
        F.min("x").alias("x"),
        (
            F.sum(F.col("w") * F.col("px").cast("double")) / F.sum("w")
        ).alias("ewma"),
    )
    var = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double")
        * F.col("sx").cast("double")
        / F.col("n_days").cast("double")
    ) / F.col("n_days").cast("double")
    return ew.join(sig, "event_type").select(
        "event_type",
        "day",
        F.col("x").cast("bigint").alias("x"),
        F.round("ewma", 6).alias("ewma_round"),
        F.round(F.sqrt(var), 6).alias("sigma_round"),
        (
            F.abs(F.col("x").cast("double") - F.col("ewma"))
            > F.lit(3.0) * F.sqrt(var)
        ).alias("out_of_control"),
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition of the daily value series: for each
# day, total = trend + seasonal + residual, with trend = centered 7-day
# moving average, seasonal = per-weekday mean of the detrended series
# (re-centered to sum to zero), residual = the remainder - the additive
# classical decomposition behind every "is this dip seasonality or a
# real drop?" question. Complements dow_seasonality_profile (the
# seasonal FACTORS alone) and holt_linear_forecast (trend
# extrapolation) with the full per-day decomposition.
#
# Determinism: daily totals are exact micro ints; the trend average is
# one IEEE division; the detrended values are RE-QUANTIZED to micro
# ints before the per-weekday mean and the zero-centering (exact sums,
# two divisions), so no order-dependent double accumulation exists.
#
# Scale notes (100 TB): the corpus collapses to the bounded day table
# in one map-side-partial shuffle; every window/join after that runs on
# day-count-sized relations.
@query(
    "stl_daily_decomposition",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                   AS BIGINT) AS x_micro
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT day, x_micro,
               CAST(CAST(sum(x_micro) OVER w AS VARCHAR) AS DOUBLE)
                   / CAST(count(*) OVER w AS DOUBLE) AS trend_micro
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT day, x_micro, trend_micro,
               isodow(day) AS dow,
               CAST(floor(CAST(x_micro AS DOUBLE) - trend_micro + 0.5)
                   AS BIGINT) AS det_micro
        FROM tr
    ),
    s AS (
        SELECT dow,
               CAST(sum(det_micro) AS BIGINT) AS sd,
               CAST(count(*) AS BIGINT) AS nd
        FROM det GROUP BY 1
    ),
    g AS (SELECT CAST(sum(sd) AS BIGINT) AS gs,
                 CAST(sum(nd) AS BIGINT) AS gn FROM s)
    SELECT det.day,
           CAST(det.x_micro AS DOUBLE) / 1000000 AS value_total,
           floor(det.trend_micro + 0.5) / 1000000 AS trend,
           floor((CAST(s.sd AS DOUBLE) / CAST(s.nd AS DOUBLE)
                  - CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE))
                 + 0.5) / 1000000 AS seasonal,
           floor((CAST(det.x_micro AS DOUBLE) - det.trend_micro
                  - (CAST(s.sd AS DOUBLE) / CAST(s.nd AS DOUBLE)
                     - CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE)))
                 + 0.5) / 1000000 AS residual
    FROM det JOIN s ON s.dow = det.dow CROSS JOIN g
    """,
)
def stl_daily_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 late sweep: the _daily_micro class in three layers - the daily
    # agg, the +/-3-day trend window (7 daily totals ~ 2e20 at the
    # design point), and the per-dow seasonal sums below all accumulate
    # in decimal; bigint output casts mirror the oracle's HUGEINT sums.
    # Scale-gated persist (r17): `det` feeds the per-dow seasonal agg
    # and the final join - 3 events scans per plan. No-op at fixture
    # scale (the r16 cheap-subtree lesson); at corpus scale the
    # calendar-bounded detrended series persists and the re-scans
    # collapse to one.
    ev_scan = load_table(spark, sf_dir, "events")
    d = (
        ev_scan
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("bigint")
            .alias("x_micro")
        )
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    tr = d.select(
        "day",
        "x_micro",
        (
            F.sum(F.col("x_micro").cast("decimal(38,0)")).over(w).cast("double")
            / F.count("*").over(w).cast("double")
        ).alias("trend_micro"),
    )
    det = tr.select(
        "day",
        "x_micro",
        "trend_micro",
        (F.weekday("day") + F.lit(1)).alias("dow"),
        F.floor(
            F.col("x_micro").cast("double") - F.col("trend_micro") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("det_micro"),
    )
    det = caches.persist_when_scaled(det, ev_scan)
    s = det.groupBy("dow").agg(
        F.sum(F.col("det_micro").cast("decimal(38,0)")).cast("bigint").alias("sd"),
        F.count("*").cast("bigint").alias("nd"),
    )
    g = s.agg(
        F.sum(F.col("sd").cast("decimal(38,0)")).cast("bigint").alias("gs"),
        F.sum("nd").cast("bigint").alias("gn"),
    )
    seasonal = (
        F.col("sd").cast("double") / F.col("nd").cast("double")
        - F.col("gs").cast("double") / F.col("gn").cast("double")
    )
    return (
        det.join(F.broadcast(s), "dow")
        .crossJoin(F.broadcast(g))
        .select(
            "day",
            (F.col("x_micro").cast("double") / F.lit(1_000_000)).alias(
                "value_total"
            ),
            # floor(x + 0.5)/1e6, not round(,6): round() half-boundary
            # behavior differs between the engines on doubles (found at
            # sf0.1); floor is pure IEEE arithmetic, bit-deterministic
            (
                F.floor(F.col("trend_micro") + F.lit(0.5)) / F.lit(1_000_000)
            ).alias("trend"),
            (F.floor(seasonal + F.lit(0.5)) / F.lit(1_000_000)).alias(
                "seasonal"
            ),
            (
                F.floor(
                    F.col("x_micro").cast("double")
                    - F.col("trend_micro")
                    - seasonal
                    + F.lit(0.5)
                )
                / F.lit(1_000_000)
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# Diurnal circular profile: per event type, the CIRCULAR mean hour-of-
# day and resultant length R (0 = uniform around the clock, 1 = all at
# one instant) - the correct average for clock arithmetic, where the
# linear mean of 23:00 and 01:00 is the absurd 12:00 but the circular
# mean is 00:00. R is the concentration gauge behind "is this event
# type diurnal or flat?". Angles theta = 2*pi*second_of_day/86400.
#
# Determinism: each sin/cos term is quantized to picounits BEFORE the
# per-type sums (exact int accumulation - the quantize-after-library-
# call contract); atan2/sqrt run once on the exact-sum-derived doubles
# and the final hour/R are floor-quantized at 1e9.
#
# Scale notes (100 TB): per-row trig + ONE bounded-key (5-type) shuffle
# with map-side partials. No joins, no windows.
@query(
    "diurnal_circular_profile",
    oracle="""
    WITH t AS (
        SELECT event_type,
               2 * pi() * (CAST(epoch_us(ts) % 86400000000 AS DOUBLE)
                   / 86400000000.0) AS theta
        FROM events
    ),
    q AS (
        SELECT event_type,
               CAST(floor(sin(theta) * 1000000000000 + 0.5) AS BIGINT) AS s_p,
               CAST(floor(cos(theta) * 1000000000000 + 0.5) AS BIGINT) AS c_p
        FROM t
    ),
    a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(s_p) AS BIGINT) AS ss, CAST(sum(c_p) AS BIGINT) AS cc
        FROM q GROUP BY 1
    )
    SELECT event_type, n,
           floor(((atan2(CAST(ss AS DOUBLE), CAST(cc AS DOUBLE))
                   + 2 * pi()) -- into [0, 2pi) before the hour scaling
                  % (2 * pi())) / (2 * pi()) * 24 * 1000000000 + 0.5)
               / 1000000000 AS mean_hour,
           floor(sqrt(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                      + CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE))
                 / (1000000000000.0 * CAST(n AS DOUBLE))
                 * 1000000000 + 0.5) / 1000000000 AS resultant_r
    FROM a
    """,
)
def diurnal_circular_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    two_pi = F.lit(2 * math.pi)
    theta = two_pi * (
        (F.unix_micros("ts") % F.lit(86_400_000_000)).cast("double")
        / F.lit(86_400_000_000.0)
    )
    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.sin(theta) * F.lit(1_000_000_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("s_p"),
        F.floor(F.cos(theta) * F.lit(1_000_000_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("c_p"),
    )
    a = q.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("s_p").cast("decimal(38,0)")).cast("bigint").alias("ss"),
        F.sum(F.col("c_p").cast("decimal(38,0)")).cast("bigint").alias("cc"),
    )
    ang = F.atan2(F.col("ss").cast("double"), F.col("cc").cast("double"))
    mean_hour = (
        F.floor(
            ((ang + two_pi) % two_pi) / two_pi * 24 * F.lit(1_000_000_000)
            + F.lit(0.5)
        )
        / F.lit(1_000_000_000)
    )
    r = (
        F.floor(
            F.sqrt(
                F.col("ss").cast("double") * F.col("ss").cast("double")
                + F.col("cc").cast("double") * F.col("cc").cast("double")
            )
            / (F.lit(1_000_000_000_000.0) * F.col("n").cast("double"))
            * F.lit(1_000_000_000)
            + F.lit(0.5)
        )
        / F.lit(1_000_000_000)
    )
    return a.select(
        "event_type", "n", mean_hour.alias("mean_hour"), r.alias("resultant_r")
    )


# ---------------------------------------------------------------------------
# Weighted median price per brand: the retail price at which HALF THE
# SHIPPED QUANTITY sits below - the volume-weighted center the plain
# median (one vote per part) misstates whenever cheap parts ship in
# bulk. Exact lower-weighted-median contract: the smallest price whose
# cumulative quantity weight reaches half the brand total (no
# interpolation - deterministic on int weights).
#
# Scale notes (100 TB): quantities roll up per (brand, part) in one
# shuffle; the cumulative window partitions by brand over the
# parts-per-brand relation (dimension-sized, not fact-sized) and the
# winner is a min-agg on the qualifying prices. The fact table moves
# once.
@query(
    "weighted_median_price_by_brand",
    oracle="""
    WITH w AS (
        SELECT p.p_brand, p.p_partkey, p.p_retailprice,
               CAST(sum(CAST(floor(l.l_quantity * 1000000 + 0.5)
                   AS BIGINT)) AS BIGINT) AS qty_micro
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2, 3
    ),
    c AS (
        SELECT p_brand, p_retailprice, qty_micro,
               sum(qty_micro) OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice, p_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(qty_micro) OVER (PARTITION BY p_brand) AS tot
        FROM w
    )
    SELECT p_brand,
           CAST(CAST(min(CASE WHEN 2 * cum >= tot THEN p_retailprice END) AS VARCHAR) AS DOUBLE) AS weighted_median_price,
           CAST(max(tot) AS BIGINT) AS total_qty_micro,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM c GROUP BY p_brand
    """,
)
def weighted_median_price_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_quantity") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("qm"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    w = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey", "p_retailprice")
        .agg(F.sum(F.col("qm").cast("decimal(38,0)")).cast("bigint").alias(
            "qty_micro"
        ))
    )
    w_cum = (
        W.partitionBy("p_brand")
        .orderBy("p_retailprice", "p_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("p_brand")
    c = w.select(
        "p_brand",
        "p_retailprice",
        "qty_micro",
        # r12 late sweep: per-brand corpus qty totals have <15x int64
        # headroom at design scale - decimal window accumulation; the
        # 2*cum >= tot comparison is exact in decimal.
        F.sum(F.col("qty_micro").cast("decimal(38,0)")).over(w_cum).alias("cum"),
        F.sum(F.col("qty_micro").cast("decimal(38,0)")).over(w_tot).alias("tot"),
    )
    return c.groupBy("p_brand").agg(
        F.min(
            F.when(2 * F.col("cum") >= F.col("tot"), F.col("p_retailprice"))
        )
        .cast("double")
        .alias("weighted_median_price"),
        F.max("tot").cast("bigint").alias("total_qty_micro"),
        F.count("*").cast("bigint").alias("n_parts"),
    )


# ---------------------------------------------------------------------------
# Part adoption speed: per part, its FIRST order date and how many
# orders it accumulated in the 30 days after launch - the cold-start /
# new-product traction metric merchandising reads weekly ("parts
# launched in March that got >= 5 orders in their first month").
# Rolled up per launch month with exact counts.
#
# Scale notes (100 TB): one part-keyed min-agg for the launch date, a
# same-key re-join to count the early orders (the min must be known
# before the window test - two passes over the fact, both part-keyed,
# the second reusing the partitioning), then a bounded month rollup.
@query(
    "part_adoption_speed",
    oracle="""
    WITH lo AS (
        SELECT l.l_partkey, CAST(o.o_orderdate AS DATE) AS od
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    launch AS (SELECT l_partkey, min(od) AS launch_day FROM lo GROUP BY 1),
    early AS (
        SELECT lo.l_partkey, la.launch_day,
               CAST(count(*) AS BIGINT) AS n_orders_30d
        FROM lo JOIN launch la ON la.l_partkey = lo.l_partkey
        WHERE lo.od <= la.launch_day + INTERVAL 30 DAY
        GROUP BY 1, 2
    )
    SELECT date_trunc('month', launch_day) AS launch_month,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(n_orders_30d) AS BIGINT) AS total_early_orders,
           CAST(CAST(sum(n_orders_30d) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS avg_early_orders,
           CAST(count(*) FILTER (n_orders_30d >= 5) AS BIGINT)
               AS n_fast_starters
    FROM early GROUP BY 1
    """,
)
def part_adoption_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey", "od"
    )
    launch = lo.groupBy("l_partkey").agg(F.min("od").alias("launch_day"))
    early = (
        lo.join(launch, "l_partkey")
        .where(F.col("od") <= F.date_add(F.col("launch_day"), 30))
        .groupBy("l_partkey", "launch_day")
        .agg(F.count("*").alias("n_orders_30d"))
    )
    return early.groupBy(
        F.trunc("launch_day", "month").alias("launch_month")
    ).agg(
        F.count("*").alias("n_parts"),
        F.sum("n_orders_30d").cast("bigint").alias("total_early_orders"),
        (
            F.sum("n_orders_30d").cast("double")
            / F.count("*").cast("double")
        ).alias("avg_early_orders"),
        F.count(F.when(F.col("n_orders_30d") >= 5, 1))
        .cast("bigint")
        .alias("n_fast_starters"),
    )


# ---------------------------------------------------------------------------
# Exact per-segment price quartiles: p25/p50/p75 of order totals per
# market segment under the exact LOWER-QUANTILE contract (smallest
# value whose cumulative count reaches ceil(q*n) - set-defined, no
# interpolation, deterministic on any data). The per-group exact twin
# of value_quantiles_exact (global) and the exact counterpart of
# percent_rank_acctbal (per-row ranks, no cuts).
#
# Scale notes (100 TB): prices pre-aggregate to (segment, price) with
# multiplicity in ONE fact shuffle; the cumulative window then runs per
# segment over the DISTINCT-price relation (value-domain-sized), and
# the quartile picks are conditional min-aggs on the same key.
@query(
    "segment_price_quartiles_exact",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS price
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT seg, price, CAST(count(*) AS BIGINT) AS m
        FROM j GROUP BY 1, 2
    ),
    c AS (
        SELECT seg, price, m,
               sum(m) OVER (PARTITION BY seg ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(m) OVER (PARTITION BY seg) AS n
        FROM g
    )
    SELECT seg,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(CAST(min(CASE WHEN 4 * cum >= n THEN price END) AS VARCHAR) AS DOUBLE) AS p25,
           CAST(CAST(min(CASE WHEN 2 * cum >= n THEN price END) AS VARCHAR) AS DOUBLE) AS p50,
           CAST(CAST(min(CASE WHEN 4 * cum >= 3 * n THEN price END) AS VARCHAR) AS DOUBLE)
               AS p75
    FROM c GROUP BY seg
    """,
)
def segment_price_quartiles_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("price"),
        )
        .agg(F.count("*").alias("m"))
    )
    w_cum = (
        W.partitionBy("seg")
        .orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("seg")
    c = g.select(
        "seg",
        "price",
        F.sum("m").over(w_cum).alias("cum"),
        F.sum("m").over(w_all).alias("n"),
    )
    return c.groupBy("seg").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("price")))
        .cast("double")
        .alias("p25"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("price")))
        .cast("double")
        .alias("p50"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("price")))
        .cast("double")
        .alias("p75"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout: hash-split users 50/50, take each
# user's LAST-15-days value total as the experiment metric and the
# PRIOR 15 days' total as the covariate (the fixture spans 30 days), and report the raw and
# CUPED-adjusted treatment effects plus the variance-reduction share
# (theta = cov(y,x)/var(x); y_adj = y - theta (x - mean(x)) - the
# standard pre-period adjustment that cuts experiment runtimes, Deng
# et al. 2013). ab_conversion_ztest reads a raw split; CUPED is what a
# mature experimentation platform actually ships.
#
# Determinism: per-user totals are exact micro ints; all moments
# (means, var, cov) come from exact integer sums with IEEE divisions in
# a mirrored order; theta and the adjusted means are single chains on
# those exact-sum-derived doubles.
#
# Scale notes (100 TB): one user-keyed rollup builds (y, x) per user;
# the moment reduction is a 1-row agg; the adjusted-effect pass reuses
# the same rollup against the broadcast 1-row moments. The fact table
# moves once.
@query(
    "cuped_ab_adjustment",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    u AS (
        SELECT e.user_id,
               ({h}) % 2 = 0 AS treated,
               CAST(sum(CASE WHEN e.ts > mx.m - INTERVAL 15 DAY
                   THEN CAST(floor(e.value * 1000000 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y_micro,
               CAST(sum(CASE WHEN e.ts <= mx.m - INTERVAL 15 DAY
                   THEN CAST(floor(e.value * 1000000 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS x_micro
        FROM events e CROSS JOIN mx
        GROUP BY 1, 2
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y_micro) AS BIGINT) AS sy,
               CAST(sum(x_micro) AS BIGINT) AS sx,
               CAST(sum(CAST(x_micro AS HUGEINT) * x_micro) AS HUGEINT)
                   AS sxx,
               CAST(sum(CAST(x_micro AS HUGEINT) * y_micro) AS HUGEINT)
                   AS sxy
        FROM u
    ),
    th AS (
        SELECT n, sx,
               (CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE))
               / (CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) AS theta
        FROM m
    ),
    g AS (
        SELECT u.treated,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(CAST(sum(u.y_micro) AS VARCHAR) AS DOUBLE) / count(*) AS y_mean,
               (CAST(CAST(sum(u.y_micro) AS VARCHAR) AS DOUBLE)
                - th.theta * (CAST(CAST(sum(u.x_micro) AS VARCHAR) AS DOUBLE)
                              - count(*) * (CAST(max(th.sx) AS DOUBLE)
                                            / CAST(max(th.n) AS DOUBLE))))
                   / count(*) AS y_adj_mean,
               max(th.theta) AS theta
        FROM u CROSS JOIN th
        GROUP BY u.treated, th.theta
    )
    SELECT t.n_g AS n_treated, c.n_g AS n_control,
           floor((t.y_mean - c.y_mean) / 1000000 * 1000000000 + 0.5)
               / 1000000000 AS raw_effect,
           floor((t.y_adj_mean - c.y_adj_mean) / 1000000 * 1000000000
               + 0.5) / 1000000000 AS cuped_effect,
           floor(t.theta * 1000000000 + 0.5) / 1000000000 AS theta
    FROM (SELECT * FROM g WHERE treated) t
    CROSS JOIN (SELECT * FROM g WHERE NOT treated) c
    """,
)
def cuped_ab_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    vm = F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5)).cast(
        "bigint"
    )
    h = _ST_SH32.format(s="concat('cuped:', cast(user_id as string))")
    # r16: `u` (per-user pre/post micro totals, one row per user x arm)
    # feeds both the theta moment reduction and the adjusted-mean pass -
    # without the persist the full events scan + md5 arm hash ran twice
    # (8 parquet scans in one plan; guide §5)
    u = caches.persist(
        ev.crossJoin(F.broadcast(mx))
        .groupBy(
            "user_id",
            (F.expr(h) % 2 == 0).alias("treated"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("ts") > F.col("m") - F.expr("INTERVAL 15 DAYS"), vm
                ).otherwise(0)
                .cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("y_micro"),
            F.sum(
                F.when(
                    F.col("ts") <= F.col("m") - F.expr("INTERVAL 15 DAYS"), vm
                ).otherwise(0)
                .cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("x_micro"),
        ),
    )
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        # r12: cast INSIDE the sum - the all-users micro totals are
        # corpus-scale; the raw-BIGINT accumulator wrapped before the old
        # outer cast could see the true value.
        F.sum(F.col("y_micro").cast("decimal(38,0)")).cast("bigint").alias("sy"),
        F.sum(F.col("x_micro").cast("decimal(38,0)")).cast("bigint").alias("sx"),
        # cast each factor to decimal BEFORE the product: x_micro can
        # exceed 2^31.5, so the int64 square overflows under ANSI
        F.sum(
            F.col("x_micro").cast("decimal(38,0)")
            * F.col("x_micro").cast("decimal(38,0)")
        ).alias("sxx"),
        F.sum(
            F.col("x_micro").cast("decimal(38,0)")
            * F.col("y_micro").cast("decimal(38,0)")
        ).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    theta = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / nd
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / nd
    )
    th = m.select("n", "sx", theta.alias("theta"))
    g = (
        u.crossJoin(F.broadcast(th))
        .groupBy("treated", "theta")
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            (
                F.sum(F.col("y_micro").cast("decimal(38,0)")).cast("double")
                / F.count("*")
            ).alias("y_mean"),
            (
                (
                    F.sum(F.col("y_micro").cast("decimal(38,0)")).cast("double")
                    - F.max("theta")
                    * (
                        F.sum(F.col("x_micro").cast("decimal(38,0)")).cast("double")
                        - F.count("*")
                        * (
                            F.max("sx").cast("double")
                            / F.max("n").cast("double")
                        )
                    )
                )
                / F.count("*")
            ).alias("y_adj_mean"),
        )
    )
    t = g.where("treated").select(
        F.col("n_g").alias("n_treated"),
        F.col("y_mean").alias("ty"),
        F.col("y_adj_mean").alias("ta"),
        F.col("theta").alias("theta"),
    )
    c = g.where(~F.col("treated")).select(
        F.col("n_g").alias("n_control"),
        F.col("y_mean").alias("cy"),
        F.col("y_adj_mean").alias("ca"),
    )
    q9 = lambda col: F.floor(col * F.lit(1_000_000_000) + F.lit(0.5)) / F.lit(
        1_000_000_000
    )
    return t.crossJoin(c).select(
        "n_treated",
        "n_control",
        q9((F.col("ty") - F.col("cy")) / F.lit(1_000_000)).alias("raw_effect"),
        q9((F.col("ta") - F.col("ca")) / F.lit(1_000_000)).alias(
            "cuped_effect"
        ),
        q9(F.col("theta")).alias("theta"),
    )


from .dedup import _DUCK_H32 as _ST_DH32_2  # noqa: E402
from ..registry import ORACLES as _ST_OR  # noqa: E402

_ST_OR["cuped_ab_adjustment"] = _ST_OR["cuped_ab_adjustment"].format(
    h=_ST_DH32_2.format(s="concat('cuped:', CAST(e.user_id AS VARCHAR))")
)


# ---------------------------------------------------------------------------
# Binary-segmentation changepoints (depth 2): find the split day that
# maximizes |mean(before) - mean(after)| of the daily value series,
# then recurse once into each half - the top-3 changepoint tree that
# complements cusum_changepoint_daily (single CUSUM point) with the
# hierarchical method real monitoring uses when more than one regime
# shift may exist.
#
# Determinism: daily totals are exact micro ints; candidate means come
# from prefix sums (one cumulative window over the bounded day table);
# |diff| is quantized to micro before the argmax, which breaks ties on
# the earlier day via the composite integer key.
#
# Scale notes (100 TB): the corpus collapses to the day table in one
# map-side-partial shuffle; all three argmax passes run on day-count-
# sized relations (windows + 1-row broadcasts), so depth scales as
# O(segments), never re-reading the fact.
@query(
    "binseg_changepoints",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                   AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT day, x,
               row_number() OVER (ORDER BY day) AS i,
               sum(x) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(x) OVER () AS tot,
               count(*) OVER () AS n
        FROM d
    ),
    s1 AS (
        SELECT day, i,
               abs(CAST(floor(CAST(CAST(cum AS VARCHAR) AS DOUBLE) / i
                   - CAST(CAST(tot - cum AS VARCHAR) AS DOUBLE) / (n - i) + 0.5) AS BIGINT))
                   AS gap
        FROM c WHERE i < n
    ),
    t1 AS (SELECT day AS split1, i AS i1
           FROM s1 ORDER BY gap DESC, day LIMIT 1),
    sided AS (
        SELECT c.day, c.x, c.i, c.i <= t1.i1 AS left_side
        FROM c CROSS JOIN t1
    ),
    c2 AS (
        SELECT day, x, left_side,
               row_number() OVER w AS i,
               sum(x) OVER (PARTITION BY left_side ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(x) OVER (PARTITION BY left_side) AS tot,
               count(*) OVER (PARTITION BY left_side) AS n
        FROM sided
        WINDOW w AS (PARTITION BY left_side ORDER BY day)
    ),
    s2 AS (
        SELECT left_side, day,
               abs(CAST(floor(CAST(CAST(cum AS VARCHAR) AS DOUBLE) / i
                   - CAST(CAST(tot - cum AS VARCHAR) AS DOUBLE) / (n - i) + 0.5) AS BIGINT))
                   AS gap
        FROM c2 WHERE i < n AND n >= 2
    ),
    t2 AS (
        SELECT left_side, day, gap,
               row_number() OVER (PARTITION BY left_side
                   ORDER BY gap DESC, day) AS rn
        FROM s2
    )
    SELECT 1 AS depth, CAST(t1.split1 AS DATE) AS split_day,
           CAST((SELECT gap FROM s1
                 ORDER BY gap DESC, day LIMIT 1) AS BIGINT) AS gap_micro
    FROM t1
    UNION ALL
    SELECT 2, CAST(day AS DATE),
           CAST(gap AS BIGINT)
    FROM t2 WHERE rn = 1
    """,
)
def binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 review: the _daily_micro class hiding behind the anonymous
    # alias `x` (no micro-ish NAME for the r12 sweep to key on): the
    # daily total AND its prefix/full-series window sums all rode raw
    # BIGINT - the full-series total is the single largest accumulation
    # in the file (a year of 100 TB days ~ 1e22 micro-units). Daily agg
    # accumulates decimal with a bigint output cast that raises loudly
    # past int64 under the pinned ANSI mode; the
    # window sums stay decimal end-to-end like the oracle's HUGEINT
    # window sums (both only ever narrow into a double at the use site).
    # Scale-gated persists (r17): the day-series `c` feeds s1/t1, sided
    # and the top row - 3 events scans per plan - and t1 itself (a
    # 1-row pick that re-runs the whole series build) is consumed by
    # both sided and the final union. No-ops at fixture scale (the r16
    # cheap-subtree lesson); at corpus scale the calendar-bounded
    # series persists and the re-scans collapse to one.
    ev_scan = load_table(spark, sf_dir, "events")
    d = (
        ev_scan
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("bigint")
            .alias("x")
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    w_ord = W.orderBy("day")
    w_cum = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = d.select(
        "day",
        "x",
        F.row_number().over(w_ord).alias("i"),
        F.sum(xd).over(w_cum).alias("cum"),
        F.sum(xd).over(w_all).alias("tot"),
        F.count("*").over(w_all).alias("n"),
    )
    c = caches.persist_when_scaled(c, ev_scan)

    def gap_col():
        return F.abs(
            F.floor(
                F.col("cum").cast("double") / F.col("i")
                - (F.col("tot") - F.col("cum")).cast("double")
                / (F.col("n") - F.col("i"))
                + F.lit(0.5)
            ).cast("bigint")
        )

    s1 = c.where(F.col("i") < F.col("n")).select(
        "day", "i", gap_col().alias("gap")
    )
    t1 = s1.orderBy(F.desc("gap"), "day").limit(1).select(
        F.col("day").alias("split1"),
        F.col("i").alias("i1"),
        F.col("gap").alias("gap1"),
    )
    t1 = caches.persist_when_scaled(t1, ev_scan)
    sided = c.select("day", "x").crossJoin(F.broadcast(t1)).select(
        "day", "x", (F.col("day") <= F.col("split1")).alias("left_side"),
        "split1", "gap1",
    )
    w2 = W.partitionBy("left_side").orderBy("day")
    w2_cum = w2.rowsBetween(W.unboundedPreceding, W.currentRow)
    w2_all = w2.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c2 = sided.select(
        "day",
        "left_side",
        "split1",
        "gap1",
        F.row_number().over(w2).alias("i"),
        F.sum(xd).over(w2_cum).alias("cum"),
        F.sum(xd).over(w2_all).alias("tot"),
        F.count("*").over(w2_all).alias("n"),
    )
    s2 = c2.where((F.col("i") < F.col("n")) & (F.col("n") >= 2)).select(
        "left_side", "day", gap_col().alias("gap")
    )
    w_pick = W.partitionBy("left_side").orderBy(F.desc("gap"), "day")
    t2 = (
        s2.withColumn("rn", F.row_number().over(w_pick))
        .where("rn = 1")
        .select(
            F.lit(2).alias("depth"),
            F.col("day").alias("split_day"),
            F.col("gap").cast("bigint").alias("gap_micro"),
        )
    )
    top = t1.select(
        F.lit(1).alias("depth"),
        F.col("split1").alias("split_day"),
        F.col("gap1").cast("bigint").alias("gap_micro"),
    )
    return top.unionByName(t2)


# ---------------------------------------------------------------------------
# Skewness / kurtosis by event type: third and fourth standardized
# moments from exact integer power sums - the distribution-shape pass
# (heavy right tail? peaked?) behind outlier-policy choices that mean/
# variance alone cannot justify. Values quantize to MILLI units before
# the power sums: milli^4 x corpus row counts stays inside
# decimal(38,0)/HUGEINT headroom through petabyte-scale row counts
# (micro^4 would overflow by sf0.1).
#
# Determinism: all four power sums are exact integers; the central-
# moment algebra is a mirrored IEEE chain; outputs floor-quantized.
#
# Scale notes (100 TB): ONE bounded-key shuffle with map-side partial
# power sums; the moment algebra runs on 5 rows.
@query(
    "skewness_kurtosis_by_type",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS HUGEINT) AS s1,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
               CAST(sum(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
               CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
        FROM q GROUP BY 1
    ),
    c AS (
        SELECT event_type, n,
               CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
               CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
               CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
               CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        FROM m
    ),
    k AS (
        SELECT event_type, n,
               r2 - m1 * m1 AS mu2,
               r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS mu3,
               r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
                   - 3 * m1 * m1 * m1 * m1 AS mu4
        FROM c
    )
    SELECT event_type, n,
           floor(mu3 / (sqrt(mu2) * sqrt(mu2) * sqrt(mu2))
               * 1000000 + 0.5) / 1000000 AS skewness,
           floor((mu4 / (mu2 * mu2) - 3.0) * 1000000 + 0.5) / 1000000
               AS excess_kurtosis
    FROM k
    """,
)
def skewness_kurtosis_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1_000) + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
    )
    d = F.col("v").cast("decimal(38,0)")
    m = q.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.sum(d * d * d).alias("s3"),
        F.sum(d * d * d * d).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    mu2 = r2 - m1 * m1
    mu3 = r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1
    mu4 = r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1

    def q6(col):
        return F.floor(col * F.lit(1_000_000) + F.lit(0.5)) / F.lit(1_000_000)

    return m.select(
        "event_type",
        "n",
        q6(mu3 / (F.sqrt(mu2) * F.sqrt(mu2) * F.sqrt(mu2))).alias("skewness"),
        q6(mu4 / (mu2 * mu2) - F.lit(3.0)).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Wilson 95% confidence intervals for the daily purchase share: the
# score-interval bounds that stay valid at small n and extreme
# proportions where the normal (Wald) interval breaks - the right way
# to put error bars on daily conversion dashboards. z = 1.96 parses to
# the identical double in both engines; the sqrt chain runs once per
# day and quantizes at nano.
#
# Scale notes (100 TB): one bounded day-keyed shuffle with conditional
# partial counts; per-day closed-form math, no resampling (the
# bootstrap op covers the resampling path).
@query(
    "wilson_ci_daily_purchase",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS k
        FROM events GROUP BY 1
    )
    SELECT day, n, k,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
           floor(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   + 1.96 * 1.96 / (2 * CAST(n AS DOUBLE))
                   - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + 1.96 * 1.96 / (4 * CAST(n AS DOUBLE)
                                        * CAST(n AS DOUBLE))))
                  / (1 + 1.96 * 1.96 / CAST(n AS DOUBLE)))
                 * 1000000000 + 0.5) / 1000000000 AS ci_low,
           floor(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   + 1.96 * 1.96 / (2 * CAST(n AS DOUBLE))
                   + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + 1.96 * 1.96 / (4 * CAST(n AS DOUBLE)
                                        * CAST(n AS DOUBLE))))
                  / (1 + 1.96 * 1.96 / CAST(n AS DOUBLE)))
                 * 1000000000 + 0.5) / 1000000000 AS ci_high
    FROM d
    """,
)
def wilson_ci_daily_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z = F.lit(1.96)
    z2 = z * z
    half = z * F.sqrt(p * (1 - p) / nd + z2 / (4 * nd * nd))
    center = p + z2 / (2 * nd)
    denom = 1 + z2 / nd

    def q9(col):
        return F.floor(col * F.lit(1_000_000_000) + F.lit(0.5)) / F.lit(
            1_000_000_000
        )

    return d.select(
        "day",
        "n",
        "k",
        p.alias("p_hat"),
        q9((center - half) / denom).alias("ci_low"),
        q9((center + half) / denom).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Chi-square residual heatmap: standardized Pearson residuals
# (obs - exp) / sqrt(exp) for every (event type x ISO weekday) cell -
# the drill-down companion to chi_square_lang_source (which answers
# only "is there ANY association?"): residuals say WHICH cells deviate
# and in which direction (|r| > 2 is the usual callout). The table a
# dashboard renders as the red/blue heatmap.
#
# Determinism: observed counts exact; expected = row x col / total is a
# mirrored IEEE chain on exact ints; residuals quantize at micro.
#
# Scale notes (100 TB): ONE bounded-key (5 x 7) shuffle with map-side
# partials; margins and residuals run on the 35-row cell table.
@query(
    "chisq_residual_heatmap",
    oracle="""
    WITH c AS (
        SELECT event_type, isodow(CAST(ts AS DATE)) AS dow_iso,
               CAST(count(*) AS BIGINT) AS obs
        FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_n
          FROM c GROUP BY 1),
    k AS (SELECT dow_iso, CAST(sum(obs) AS BIGINT) AS col_n
          FROM c GROUP BY 1),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS tot FROM c)
    SELECT c.event_type, CAST(c.dow_iso AS BIGINT) AS dow_iso, c.obs,
           floor(CAST(r.row_n AS DOUBLE) * CAST(k.col_n AS DOUBLE)
               / CAST(t.tot AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS expected,
           floor((CAST(c.obs AS DOUBLE)
                  - CAST(r.row_n AS DOUBLE) * CAST(k.col_n AS DOUBLE)
                    / CAST(t.tot AS DOUBLE))
                 / sqrt(CAST(r.row_n AS DOUBLE) * CAST(k.col_n AS DOUBLE)
                        / CAST(t.tot AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS std_residual
    FROM c
    JOIN r ON r.event_type = c.event_type
    JOIN k ON k.dow_iso = c.dow_iso
    CROSS JOIN t
    """,
)
def chisq_residual_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", (F.weekday("ts") + F.lit(1)).alias("dow_iso"))
        .agg(F.count("*").alias("obs"))
    )
    r = c.groupBy("event_type").agg(F.sum("obs").alias("row_n"))
    k = c.groupBy("dow_iso").agg(F.sum("obs").alias("col_n"))
    t = c.agg(F.sum("obs").alias("tot"))
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("tot").cast("double")
    )

    def q6(col):
        return F.floor(col * F.lit(1_000_000) + F.lit(0.5)) / F.lit(1_000_000)

    return (
        c.join(F.broadcast(r), "event_type")
        .join(F.broadcast(k), "dow_iso")
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.col("dow_iso").cast("bigint").alias("dow_iso"),
            F.col("obs").cast("bigint").alias("obs"),
            q6(exp).alias("expected"),
            q6((F.col("obs").cast("double") - exp) / F.sqrt(exp)).alias(
                "std_residual"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Hash-sample bias audit: does the cheap deterministic 1/16 hash sample
# actually represent the population? Compares the sample's mean value
# and event-type mix against the full corpus: standardized mean
# difference plus the total-variation distance of the type mix - the
# pre-flight check before trusting any downsampled analysis (hash
# samples are unbiased in EXPECTATION; a finite draw can still land
# badly, and this measures the draw you actually got).
#
# Determinism: membership is the shared md5-h32 mod 16; all moments are
# exact micro-int sums; SMD/TVD are mirrored IEEE chains quantized at
# nano.
#
# Scale notes (100 TB): ONE pass - every aggregate is a conditional
# partial over the same scan (no second read for the population);
# the type-mix comparison runs on the bounded type table.
@query(
    "hash_sample_bias_audit",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
               ({h}) % 16 = 0 AS in_sample
        FROM events
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (in_sample) AS BIGINT) AS n_s,
               CAST(sum(vm) AS BIGINT) AS s_all,
               CAST(sum(vm) FILTER (in_sample) AS BIGINT) AS s_s,
               CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS ss_all
        FROM e
    ),
    mix AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS c_all,
               CAST(count(*) FILTER (in_sample) AS BIGINT) AS c_s
        FROM e GROUP BY 1
    ),
    tvd AS (
        -- each per-type term is quantized to integer nano-units BEFORE
        -- the cross-row sum: the per-row double chain is deterministic,
        -- the integer sum is order-insensitive (r9 review - a raw
        -- double sum rides partial-agg arrival order in Spark)
        SELECT CAST(sum(CAST(floor(
                   abs(CAST(c_s AS DOUBLE) / CAST(t.n_s AS DOUBLE)
                       - CAST(c_all AS DOUBLE) / CAST(t.n_all AS DOUBLE))
                   * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS tv_n9
        FROM mix CROSS JOIN (SELECT n_s, n_all FROM m) t
    )
    SELECT m.n_s AS n_sample, m.n_all AS n_population,
           floor((CAST(m.s_s AS DOUBLE) / CAST(m.n_s AS DOUBLE)
                  - CAST(m.s_all AS DOUBLE) / CAST(m.n_all AS DOUBLE))
                 / sqrt((CAST(CAST(m.ss_all AS VARCHAR) AS DOUBLE)
                         - CAST(m.s_all AS DOUBLE) * CAST(m.s_all AS DOUBLE)
                           / CAST(m.n_all AS DOUBLE))
                        / CAST(m.n_all AS DOUBLE))
                 * 1000000000 + 0.5) / 1000000000 AS std_mean_diff,
           CAST(tvd.tv_n9 AS DOUBLE) / 2000000000 AS type_mix_tvd
    FROM m CROSS JOIN tvd
    """,
)
def hash_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _ST_SH32.format(s="concat('sbias:', cast(event_id as string))")
    # Scale-gated persist (r17): `e` feeds the global moment agg and
    # the per-type mix - 2 events scans per plan, each re-running the
    # per-row md5 sample flag. No-op at fixture scale (the r16
    # cheap-subtree lesson); at corpus scale the second md5 pass is
    # pure added CPU. Scale caveat: `e` is O(rows) (3 narrow columns) -
    # disk-backed, written once and read twice, which beats re-hashing.
    ev_scan = load_table(spark, sf_dir, "events")
    e = ev_scan.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("vm"),
        (F.expr(h) % 16 == 0).alias("in_sample"),
    )
    e = caches.persist_when_scaled(e, ev_scan)
    d = F.col("vm").cast("decimal(38,0)")
    m = e.agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.count(F.when(F.col("in_sample"), 1)).cast("bigint").alias("n_s"),
        F.sum(d).cast("bigint").alias("s_all"),
        F.sum(F.when(F.col("in_sample"), d)).cast("bigint").alias("s_s"),
        F.sum(d * d).alias("ss_all"),
    )
    mix = e.groupBy("event_type").agg(
        F.count("*").alias("c_all"),
        F.count(F.when(F.col("in_sample"), 1)).alias("c_s"),
    )
    # per-type term -> integer nano-units BEFORE the sum: the per-row
    # double chain is deterministic, the integer sum order-insensitive
    # (r9 review - a raw double sum is order-sensitive across Spark's
    # partial-agg merges, an ulp hazard at the output boundary)
    term_n9 = F.floor(
        F.abs(
            F.col("c_s").cast("double") / F.col("n_s").cast("double")
            - F.col("c_all").cast("double") / F.col("n_all").cast("double")
        )
        * F.lit(1_000_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    tvd = (
        mix.crossJoin(F.broadcast(m.select("n_s", "n_all")))
        .agg(F.sum(term_n9).alias("tv_n9"))
    )
    var = (
        F.col("ss_all").cast("double")
        - F.col("s_all").cast("double")
        * F.col("s_all").cast("double")
        / F.col("n_all").cast("double")
    ) / F.col("n_all").cast("double")
    smd = (
        F.col("s_s").cast("double") / F.col("n_s").cast("double")
        - F.col("s_all").cast("double") / F.col("n_all").cast("double")
    ) / F.sqrt(var)

    def q9(col):
        return F.floor(col * F.lit(1_000_000_000) + F.lit(0.5)) / F.lit(
            1_000_000_000
        )

    return m.crossJoin(F.broadcast(tvd)).select(
        F.col("n_s").alias("n_sample"),
        F.col("n_all").alias("n_population"),
        q9(smd).alias("std_mean_diff"),
        (
            F.col("tv_n9").cast("double") / F.lit(2_000_000_000.0)
        ).alias("type_mix_tvd"),
    )


from ..registry import ORACLES as _ST_OR2  # noqa: E402

_ST_OR2["hash_sample_bias_audit"] = _ST_OR2["hash_sample_bias_audit"].format(
    h=_ST_DH32_2.format(s="concat('sbias:', CAST(event_id AS VARCHAR))")
)


# ---------------------------------------------------------------------------
# Forecast model bakeoff: backtest two one-day-ahead forecasters on the
# last 7 days of the daily value series - seasonal naive (same weekday
# last week) vs trailing-7-day mean - reporting MAE per model and the
# winner. The model-selection artifact every forecasting pipeline
# regenerates weekly (seasonal_naive_error scores ONE model; a bakeoff
# is how the model gets CHOSEN).
#
# Determinism: daily totals and both forecasts are exact micro ints
# (the trailing mean re-quantizes after its one division); MAEs are
# exact integer sums divided once; the winner is a deterministic
# comparison with the fixed tiebreak (naive wins ties).
#
# Scale notes (100 TB): the corpus collapses to the day table once;
# lags/means are windows over it; the scoreboard is 2 rows.
_BAKE_H = 7  # holdout days


@query(
    "forecast_model_bakeoff",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                   AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    f AS (
        SELECT day, x,
               lag(x, 7) OVER w AS f_naive,
               CAST(floor(CAST(CAST(sum(x) OVER (ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS VARCHAR) AS DOUBLE)
                   / count(x) OVER (ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) + 0.5)
                   AS BIGINT) AS f_mean,
               row_number() OVER (ORDER BY day DESC) AS rn
        FROM d WINDOW w AS (ORDER BY day)
    ),
    h AS (SELECT * FROM f WHERE rn <= {_BAKE_H} AND f_naive IS NOT NULL),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs(x - f_naive)) AS BIGINT) AS ae_naive,
               CAST(sum(abs(x - f_mean)) AS BIGINT) AS ae_mean
        FROM h
    )
    SELECT 'seasonal_naive' AS model, n_days,
           CAST(ae_naive AS DOUBLE) / (1000000.0 * n_days) AS mae,
           ae_naive <= ae_mean AS is_winner
    FROM s
    UNION ALL
    SELECT 'trailing_mean', n_days,
           CAST(ae_mean AS DOUBLE) / (1000000.0 * n_days),
           ae_mean < ae_naive
    FROM s
    """,
)
def forecast_model_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 review: the _daily_micro class behind the anonymous alias `x`
    # (same find as binseg_changepoints/ks_test): the daily total, the
    # 8-day trailing-mean window, and the absolute-error sums all rode
    # raw BIGINT - each accumulation holds up to 14 daily totals, past
    # int64 at the 100 TB/day design point while each per-row value
    # still fits. Accumulate decimal; keep the bigint output casts -
    # they raise loudly past int64 under the pinned ANSI mode, which the
    # oracle's HUGEINT-sum-then-BIGINT-cast mirrors (it errors there).
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("bigint")
            .alias("x")
        )
    )
    w = W.orderBy("day")
    w_tm = w.rowsBetween(-7, -1)
    f = d.select(
        "day",
        "x",
        F.lag("x", 7).over(w).alias("f_naive"),
        F.floor(
            F.sum(F.col("x").cast("decimal(38,0)")).over(w_tm).cast("double")
            / F.count("x").over(w_tm)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("f_mean"),
        F.row_number().over(W.orderBy(F.desc("day"))).alias("rn"),
    )
    h = f.where((F.col("rn") <= _BAKE_H) & F.col("f_naive").isNotNull())
    s = h.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("x") - F.col("f_naive")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("ae_naive"),
        F.sum(F.abs(F.col("x") - F.col("f_mean")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("ae_mean"),
    )
    naive = s.select(
        F.lit("seasonal_naive").alias("model"),
        "n_days",
        (
            F.col("ae_naive").cast("double")
            / (F.lit(1_000_000.0) * F.col("n_days"))
        ).alias("mae"),
        (F.col("ae_naive") <= F.col("ae_mean")).alias("is_winner"),
    )
    mean = s.select(
        F.lit("trailing_mean").alias("model"),
        "n_days",
        (
            F.col("ae_mean").cast("double")
            / (F.lit(1_000_000.0) * F.col("n_days"))
        ).alias("mae"),
        (F.col("ae_mean") < F.col("ae_naive")).alias("is_winner"),
    )
    return naive.unionByName(mean)


# ---------------------------------------------------------------------------
# Welch two-sample t: does the weekend value distribution differ from
# weekdays? Unequal-variance t statistic with Welch-Satterthwaite
# degrees of freedom - completing the two-sample toolkit (z-test on
# proportions, KS on shapes; Welch t is the means workhorse when
# variances differ, which weekend/weekday loads usually do).
#
# Determinism: per-group moments are exact micro-int sums; t and df are
# mirrored IEEE chains on the exact-sum-derived doubles, floor-
# quantized at micro.
#
# Scale notes (100 TB): ONE 2-key shuffle with map-side partial
# moments; the statistic is a 1-row computation.
@query(
    "welch_t_weekend_effect",
    oracle="""
    WITH g AS (
        SELECT isodow(CAST(ts AS DATE)) >= 6 AS is_weekend,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                   AS BIGINT) AS s1,
               CAST(sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                   AS HUGEINT) * CAST(floor(value * 1000000 + 0.5)
                   AS BIGINT)) AS HUGEINT) AS s2
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT is_weekend, n,
               CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
               (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var
        FROM g
    ),
    p AS (
        SELECT w.n AS n_w, d.n AS n_d,
               w.mean AS mean_w, d.mean AS mean_d,
               w.var / w.n AS vw, d.var / d.n AS vd
        FROM (SELECT * FROM m WHERE is_weekend) w
        CROSS JOIN (SELECT * FROM m WHERE NOT is_weekend) d
    )
    SELECT n_w AS n_weekend, n_d AS n_weekday,
           floor((mean_w - mean_d) / 1000000 * 1000000 + 0.5) / 1000000
               AS mean_diff,
           floor((mean_w - mean_d) / sqrt(vw + vd) * 1000000 + 0.5)
               / 1000000 AS t_stat,
           floor((vw + vd) * (vw + vd)
                 / (vw * vw / (n_w - 1) + vd * vd / (n_d - 1))
                 * 1000000 + 0.5) / 1000000 AS welch_df
    FROM p
    """,
)
def welch_t_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    vm = F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5)).cast(
        "bigint"
    )
    g = (
        load_table(spark, sf_dir, "events")
        .select(((F.weekday("ts") + 1) >= 6).alias("is_weekend"), vm.alias("v"))
        .groupBy("is_weekend")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            # r12: cast INSIDE the sum - sum("v").cast(decimal) wraps in
            # the raw-BIGINT accumulator before the cast can see the
            # true value (2-group split of a 100 TB corpus crosses int64
            # comfortably). bigint output cast mirrors the oracle.
            F.sum(F.col("v").cast("decimal(38,0)")).cast("bigint").alias("s1"),
            F.sum(
                F.col("v").cast("decimal(38,0)")
                * F.col("v").cast("decimal(38,0)")
            ).alias("s2"),
        )
    )
    nd = F.col("n").cast("double")
    m = g.select(
        "is_weekend",
        "n",
        (F.col("s1").cast("double") / nd).alias("mean"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
            )
            / (F.col("n") - 1).cast("double")
        ).alias("var"),
    )
    w = m.where("is_weekend").select(
        F.col("n").alias("n_w"),
        F.col("mean").alias("mean_w"),
        (F.col("var") / F.col("n")).alias("vw"),
    )
    d = m.where(~F.col("is_weekend")).select(
        F.col("n").alias("n_d"),
        F.col("mean").alias("mean_d"),
        (F.col("var") / F.col("n")).alias("vd"),
    )

    def q6(col):
        return F.floor(col * F.lit(1_000_000) + F.lit(0.5)) / F.lit(1_000_000)

    return w.crossJoin(d).select(
        F.col("n_w").alias("n_weekend"),
        F.col("n_d").alias("n_weekday"),
        q6((F.col("mean_w") - F.col("mean_d")) / F.lit(1_000_000)).alias(
            "mean_diff"
        ),
        q6(
            (F.col("mean_w") - F.col("mean_d"))
            / F.sqrt(F.col("vw") + F.col("vd"))
        ).alias("t_stat"),
        q6(
            (F.col("vw") + F.col("vd"))
            * (F.col("vw") + F.col("vd"))
            / (
                F.col("vw") * F.col("vw") / (F.col("n_w") - 1).cast("double")
                + F.col("vd") * F.col("vd") / (F.col("n_d") - 1).cast("double")
            )
        ).alias("welch_df"),
    )
