"""Beyond-survey relational widening: the ANSI surface a warehouse user
expects past the reference's inner-join/flat-GROUP-BY workload (SURVEY.md
§2a notes "no other join kinds / no grouping sets appear anywhere in the
reference"). Split out of relational.py and registered LAST in
load_all_operators() so the reference-parity queries keep the audited
slots in the driver's correctness window.

All shapes here are partial-agg or window-over-high-cardinality plans that
scale like their relational.py cousins: dims broadcast, aggregates combine
map-side, and nothing sorts a full table in one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import band_offsets, dsum, decile, oracle_dsum
from ..registry import query
from ..tables import load_table
from .dedup import _DUCK_H32 as _G_DH32
from .dedup import _SPARK_H32 as _G_SH32


# ---------------------------------------------------------------------------
# Semi/anti joins - EXISTS / NOT EXISTS.
@query(
    "semi_join_exists",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    ORDER BY o_orderkey
    """,
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "anti_join_not_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    ORDER BY c_custkey
    """,
)
def anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Outer join + null handling.
@query(
    "left_outer_join_agg",
    oracle="""
    SELECT c.c_custkey AS custkey,
           count(o.o_orderkey) AS n_orders,
           coalesce(CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE), 0.0)
               AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def left_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# ROLLUP (subtotal hierarchy).
@query(
    "rollup_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           {oracle_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), dsum("l_quantity", alias="sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation): events fan out by type per user.
@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'view')     AS n_view,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'error')    AS n_error
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("view", "click", "purchase", "signup", "error")
    ]
    return ev.groupBy("user_id").agg(*aggs).orderBy("user_id")


# ---------------------------------------------------------------------------
# Exact distinct count per group (baseline for the HLL approx variant in
# windows.py).
@query(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CUBE: all 2^2 grouping sets in one pass.
@query(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping sets in one pass (Expand + single agg
    shuffle; rolled-up dimensions surface as NULL in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity", alias="sum_qty"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


@query(
    "full_outer_date_alignment",
    oracle="""
    SELECT coalesce(o.d, l.d) AS d,
           coalesce(o.n, 0) AS n_orders,
           coalesce(l.n, 0) AS n_shipments
    FROM (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
          FROM orders GROUP BY 1) o
    FULL OUTER JOIN
         (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n
          FROM lineitem GROUP BY 1) l
    ON o.d = l.d
    ORDER BY d
    """,
)
def full_outer_date_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated calendars: days with orders
    but no shipments (and vice versa) survive with zero-filled counts.
    Aggregate-before-join keeps the outer join small at any scale."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count("*").alias("n_orders"))
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(F.count("*").alias("n_shipments"))
    )
    return (
        o.join(l, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_shipments", F.lit(0)).alias("n_shipments"),
        )
        .orderBy("d")
    )


@query(
    "intersect_segment_buyers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    ORDER BY c_custkey
    """,
)
def intersect_segment_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics) - compiles to a distinct +
    left-semi shape; the set-operator tier of the surface."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    buyers = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.intersect(buyers).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Exact ntile deciles WITHOUT a global single-partition sort: the banded
# global order of functions.band_offsets (its design comment has the plan
# and the band-count rule) ranks orders by (price, orderkey) per band, and
# decile() turns offset + local rank into ntile(10), verified by the
# unchanged ntile oracle.
@query(
    "ntile_price_deciles",
    oracle="""
    SELECT decile, count(*) AS n_orders,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price
    FROM (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    GROUP BY decile ORDER BY decile
    """,
)
def ntile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # (band, price, orderkey) is a total order
    ranked = band_offsets(
        o,
        "o_totalprice",
        F.count("*"),
        lambda band: F.row_number()
        .over(band.orderBy("o_totalprice", "o_orderkey"))
        .alias("_lrn"),
    )
    return (
        ranked.withColumn(
            "decile", decile(F.col("_off") + F.col("_lrn"), F.col("_n"))
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("decile")
    )


@query(
    "latest_order_per_segment",
    oracle="""
    SELECT c_mktsegment,
           arg_max(o_orderkey,
                   (CAST(o_orderdate AS DATE) - DATE '1970-01-01')::BIGINT
                       * 1000000000000 + o_orderkey) AS latest_orderkey,
           max(CAST(o_orderdate AS DATE)) AS latest_date,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def latest_order_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg_max with a DETERMINISTIC composite key: epoch-days x 1e12
    + orderkey (exact in int64 through year 9999: days < 3e6 so the date
    term tops out ~3e18 < 2^63, and the date strictly dominates for any
    orderkey < 1e12 - TPC-H orderkeys pass 1e7 around sf2, which broke the
    previous 1e7 multiplier; round-2 ADVICE). DuckDB's arg_max takes
    scalars only, and a bare date key would tie. One join (customer grows
    with sf, so no broadcast hint - AQE decides; r12 fix) + one agg
    shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    key = (
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        * 1_000_000_000_000
        + F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", key).alias("latest_orderkey"),
            F.max(F.to_date("o_orderdate")).alias("latest_date"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "except_small_orders",
    oracle="""
    SELECT o_orderkey FROM orders
    EXCEPT
    SELECT l_orderkey AS o_orderkey FROM lineitem WHERE l_quantity > 45
    ORDER BY o_orderkey
    """,
)
def except_small_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference) - orders none of whose lineitems
    exceed quantity 45; the set-difference twin of the INTERSECT above,
    completing the set-operator tier."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    big = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.subtract(big).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# GROUPING SETS beyond rollup/cube: an explicit, non-hierarchical set list
# ((segment, nation), (segment), (nation)) - note no grand total, so
# neither ROLLUP nor CUBE can express it. grouping_id() keys which set a
# row belongs to (same disambiguation contract as the rollup/cube queries).
@query(
    "grouping_sets_seg_nation",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(grouping(c_mktsegment) * 2 + grouping(c_nationkey) AS BIGINT)
               AS gid
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment),
                            (c_nationkey))
    ORDER BY gid, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """,
)
def grouping_sets_seg_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupingSets(
            [["c_mktsegment", "c_nationkey"], ["c_mktsegment"], ["c_nationkey"]],
            "c_mktsegment",
            "c_nationkey",
        )
        .agg(
            F.count("*").alias("n_cust"),
            F.grouping_id("c_mktsegment", "c_nationkey").alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("c_nationkey").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Relative-rank windows: percent_rank + cume_dist per segment (the
# distribution-position twins of the ntile bucketing above). Partitioned
# by segment, so no single-partition window; ties share ranks, and the
# (acctbal, custkey) tiebreaker keeps every rank deterministic anyway.
@query(
    "percent_rank_acctbal",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           percent_rank() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
           ) AS pct_rank,
           cume_dist() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
           ) AS cume
    FROM customer
    ORDER BY c_custkey
    """,
)
def percent_rank_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Fixed-width histogram (width_bucket shape): document length distribution
# per language - the curation dashboard's first plot. Bucket arithmetic in
# exact integers (n_chars div 500), capped at bucket 10, so both engines
# bin identically; one low-cardinality partial agg, no shuffle of docs.
@query(
    "doc_length_histogram",
    oracle="""
    SELECT lang,
           CAST(least(n_chars // 500, 10) AS BIGINT) AS len_bucket,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, len_bucket
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.expr("n_chars div 500"), F.lit(10).cast("bigint"))
    return (
        docs.groupBy("lang", bucket.alias("len_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "len_bucket")
    )


# ---------------------------------------------------------------------------
# Time-RANGE rolling aggregate: per-user 7-day trailing sum/count/avg.
# RANGE frames are tie-insensitive (all peers within the bound are in the
# frame regardless of their order), and the sum accumulates in exact
# DECIMAL, so the result is deterministic cross-engine without any
# tiebreaker gymnastics. One shuffle on user_id; the frame scan is a
# per-partition sorted sliding window, never a second exchange.
@query(
    "rolling_value_7d",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
           count(*) OVER w AS n_7d,
           CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS VARCHAR) AS DOUBLE) AS sum_7d,
           CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS VARCHAR) AS DOUBLE)
               / count(*) OVER w AS avg_7d
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def rolling_value_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-7 * 86_400 * 1_000_000, 0)
    )
    dec_sum = F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double")
    n = F.count("*").over(w)
    # no output sort: full-table projection, driver hash is order-insensitive
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        n.alias("n_7d"),
        dec_sum.alias("sum_7d"),
        (dec_sum / n).alias("avg_7d"),
    )


# ---------------------------------------------------------------------------
# Correlated-scalar-subquery shape ("orders above this customer's average"):
# expressed as ONE window over o_custkey instead of the naive
# aggregate-then-self-join, which would shuffle the fact table twice.
# The mean is an exact decimal sum / count (davg contract, scale 2).
@query(
    "orders_above_cust_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
                        OVER (PARTITION BY o_custkey) AS VARCHAR) AS DOUBLE)
                   / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    )
    WHERE o_totalprice > cust_avg
    """,
)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    # no output sort: ~half the fact table, driver hash is order-insensitive
    return orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", cust_avg.alias("cust_avg")
    ).where(F.col("o_totalprice") > F.col("cust_avg"))


# ---------------------------------------------------------------------------
# Markov transition counts over per-user event sequences: lag(event_type)
# over (user, time) then count per (prev, curr) - the funnel/next-action
# shape. NULL prev_type = sequence start. One window shuffle on user_id,
# then a partial-agg shuffle on the tiny (prev, curr) key space.
@query(
    "event_transition_counts",
    oracle="""
    SELECT prev_type, event_type, count(*) AS n
    FROM (
        SELECT event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    )
    GROUP BY prev_type, event_type
    ORDER BY prev_type NULLS FIRST, event_type
    """,
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.asc_nulls_first("prev_type"), "event_type")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt: wide numeric columns -> long (metric, value) rows, the
# relational dual of pivot_event_counts. Spark's unpivot() is a zero-shuffle
# per-row expansion (each input row emits one output row per value column);
# the oracle spells the same relation as UNION ALL, the ANSI-portable form.
@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, value
    FROM (
        SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    )
    ORDER BY p_partkey, metric
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_retailprice").alias("retailprice"),
            F.col("p_size").cast("double").alias("size"),
        )
        .unpivot("p_partkey", ["retailprice", "size"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


# ---------------------------------------------------------------------------
# Exact per-group median + deterministic mode. Median rides percentile()
# in the integer cents domain so both engines interpolate over exact
# integers ((a+b)/2 on <=2^53 ints is exact in double - no last-ulp
# divergence; cf. value_quantiles_exact which needs round(6) for raw
# doubles). Mode is spelled as count + row_number with a lexicographic
# tiebreak instead of the engines' mode() aggregates, whose tie choice is
# implementation-defined.
#
# Scale: percentile() buffers each group's values (3 statuses here); at
# true corpus scale the approx twin (value_quantiles_approx) or the banded
# ntile_price_deciles plan is the bounded-memory path - documented trade,
# same as value_quantiles_exact.
@query(
    "median_mode_by_status",
    oracle="""
    WITH med AS (
        SELECT o_orderstatus,
               count(*) AS n_orders,
               quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
                   / 100 AS median_price
        FROM orders GROUP BY o_orderstatus
    ),
    pc AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS pn
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    md AS (
        SELECT o_orderstatus, o_orderpriority AS mode_priority
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_orderstatus
                ORDER BY pn DESC, o_orderpriority
            ) AS rn FROM pc
        ) WHERE rn = 1
    )
    SELECT o_orderstatus, n_orders, median_price, mode_priority
    FROM med JOIN md USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
)
def median_mode_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        (F.expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)") / 100)
        .alias("median_price"),
    )
    pc = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("pn")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("pn"), "o_orderpriority"
    )
    md = (
        pc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    return med.join(md, "o_orderstatus").orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# JSON extraction: events.props is a JSON payload column (the schemaless
# sidecar every event pipeline drags along). get_json_object is a per-row
# JVM projection - the predicate/agg runs on the extracted value with no
# Python in the loop; sum stays in exact integer arithmetic.
@query(
    "props_json_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(CAST(sum(k) AS VARCHAR) AS DOUBLE) / count(k) AS avg_k,
           count(DISTINCT k) AS n_distinct_k
    FROM (
        SELECT event_type,
               CAST(json_extract_string(CAST(props AS JSON), '$.k') AS BIGINT)
                   AS k
        FROM events
    )
    GROUP BY event_type ORDER BY event_type
    """,
)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CUME_DIST: relative cumulative position within a partition - completes
# the relative-rank window family (percent_rank, ntile). Partitioned by
# o_orderpriority so no window ever spans one global partition; the agg
# on top keeps the output small (per-priority quartile occupancy).
@query(
    "cume_dist_price_quartiles",
    oracle="""
    SELECT o_orderpriority, quartile, count(*) AS n_orders,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price
    FROM (
        SELECT o_orderpriority, o_totalprice,
               CAST(ceil(cume_dist() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
               ) * 4) AS BIGINT) AS quartile
        FROM orders
    )
    GROUP BY o_orderpriority, quartile
    ORDER BY o_orderpriority, quartile
    """,
)
def cume_dist_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    quartile = F.ceil(F.cume_dist().over(w) * 4).cast("bigint")
    return (
        orders.select(
            "o_orderpriority", "o_totalprice", quartile.alias("quartile")
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


# ---------------------------------------------------------------------------
# Array aggregation: per-entity set profile via collect_set. Determinism
# contract: set aggregates are unordered in both engines, so the result
# is rendered through an explicit sort before leaving the query
# (sort_array + array_join <-> list_sort + array_to_string) - the same
# "aggregate, then impose a total order" rule every top-k query follows.
# One partial-agg shuffle on user_id; the per-user set is bounded by the
# event-type vocabulary, so state never grows with stream length.
@query(
    "user_event_type_profile",
    oracle="""
    SELECT user_id,
           count(DISTINCT event_type) AS n_types,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
               AS types_csv,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drift check (r6): warm sf0.1 = 0.65s (min of 3), below the r4
    # driver 0.72s - the r5 0.93s was cold-run jitter, no regression.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.array_join(
                F.sort_array(F.collect_set("event_type")), ","
            ).alias("types_csv"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate refresh (materialized-view maintenance): merge a
# delta batch's PARTIAL aggregates into a previously-computed base
# aggregate and land exactly the full recompute - the warehouse pattern
# that turns an O(history) nightly rebuild into an O(delta) refresh. The
# oracle IS the full recompute over the whole table, so the hash match
# PROVES partial-merge == full for count / decimal sum / max.
#
# Exactness: additive measures stay in exact DECIMAL through the merge
# (decimal(base) + decimal(delta) == decimal(total) associatively), with
# ONE final cast to double - summing two already-cast doubles could
# differ from the full recompute by an ulp. count/max merge trivially.
#
# Scale notes (100 TB): the base agg is |groups| rows (here: read back
# from the stored MV; computed in-query to stay self-contained), the
# delta agg shuffles only the delta batch with map-side combine, and the
# merge itself is UNION ALL of the two partial-aggregate sets followed by
# one more groupBy on the group key - no join at all (round 5 used a
# full-outer join with a broadcast hint, but Spark's broadcast hash join
# does not support full outer, so it silently planned as a sort-merge
# join; the union-merge needs one exchange fewer and no sorts). Cost is
# O(delta + groups), never O(history).
@query(
    "incremental_agg_refresh",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE)
               AS sum_price,
           CAST(max(o_orderdate) AS DATE) AS latest_order_date
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # the "previously materialized" history vs the newly-arrived batch: a
    # deterministic 90/10 key split stands in for the stored MV + delta
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    delta = orders.where(F.col("o_orderkey") % 10 == 0)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
            F.max(F.to_date("o_orderdate")).alias("d"),
        )

    # merge = re-aggregate the unioned partials: count partials add, the
    # decimal sum partials add exactly (one final cast to double), date
    # partials max-combine. Absent groups need no coalesce handling -
    # a group present in only one side simply contributes one partial row.
    return (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("sum_price"),
            F.max("d").alias("latest_order_date"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Per-group z-score outlier flagging: the standard streaming-ETL anomaly
# gate (|z| > threshold vs the group's own distribution). Cross-engine
# float determinism: moments are accumulated EXACTLY - values quantized
# to integer micro-units (floor(value*1e6), the time_weighted_avg
# contract), then n / sum(u6) / sum(u6^2) in overflow-proof integer
# arithmetic (decimal(38,0) Spark side, HUGEINT oracle side; a bare
# bigint sum of squares would overflow ~2^63 and Spark non-ANSI WRAPS
# silently). The exact integer moments convert once to double and the z
# expression is the same IEEE op sequence in both engines, so even the
# boundary comparison |z| > 2.5 is bit-deterministic.
#
# Scale notes (100 TB): one agg shuffle on the bounded event_type
# vocabulary (map-side partials), the per-group moment table broadcasts
# (bounded), then a stateless per-row projection+filter - the fact table
# itself never shuffles.
@query(
    "value_zscore_outliers",
    oracle="""
    WITH b AS (
        SELECT event_id, event_type, value,
               CAST(floor(value * 1000000) AS BIGINT) AS u6
        FROM events
    ),
    s AS (
        SELECT event_type,
               count(*) AS n,
               sum(u6) AS su,
               CAST(CAST(sum(CAST(u6 AS HUGEINT) * u6) AS VARCHAR) AS DOUBLE) AS sq
        FROM b GROUP BY event_type
    ),
    z AS (
        SELECT b.event_id, b.event_type, b.value,
               (CAST(b.u6 AS DOUBLE) - CAST(CAST(s.su AS VARCHAR) AS DOUBLE) / s.n)
               / sqrt(s.sq / s.n
                      - (CAST(CAST(s.su AS VARCHAR) AS DOUBLE) / s.n)
                        * (CAST(CAST(s.su AS VARCHAR) AS DOUBLE) / s.n)) AS zv
        FROM b JOIN s USING (event_type)
    )
    SELECT event_id, event_type, value, round(zv, 6) AS zscore
    FROM z WHERE abs(zv) > 2.5
    ORDER BY event_id
    """,
)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
    )
    s = b.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # r12 fix (SCALING_r10 hit list): per-type u6 sum accumulates in
        # decimal(38,0) - a handful of event types over a 100 TB corpus
        # puts each type's micro-unit total past int64. Convention for
        # INTERNAL moments (never in the output schema): both engines
        # keep their wide accumulator type (Spark decimal(38,0), DuckDB
        # HUGEINT) and narrow only at the use site, where decimal->double
        # and HUGEINT->DOUBLE round-to-nearest identically.
        F.sum(F.col("u6").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("u6").cast("decimal(38,0)") * F.col("u6"))
        .cast("double")
        .alias("sq"),
    )
    mean = F.col("su").cast("double") / F.col("n")
    zv = (F.col("u6").cast("double") - mean) / F.sqrt(
        F.col("sq") / F.col("n") - mean * mean
    )
    return (
        b.join(F.broadcast(s), "event_type")  # bounded type vocabulary
        .select(
            "event_id",
            "event_type",
            "value",
            zv.alias("zv"),
        )
        .where(F.abs(F.col("zv")) > 2.5)
        .select(
            "event_id", "event_type", "value", F.round("zv", 6).alias("zscore")
        )
        # no output sort: driver hash is order-insensitive
    )


# ---------------------------------------------------------------------------
# Salted join under key skew: the classic remedy when a shuffle join's key
# distribution is pathological (one hot key owning most rows lands one
# reducer with ~all the work). The fact side maps ~70% of events onto a
# single hot key (user_id % 10 < 7 -> key 1); the fix:
#   fact gains salt = event_id % S, dim is replicated S-fold (explode of
#   a literal 0..S-1 sequence), and the join key becomes (key, salt) -
#   the hot key's rows spread across S reducers instead of one.
# The ORACLE is the plain unsalted join, so the hash match PROVES the
# salted plan computes identical inner-join semantics.
#
# Honesty note: at fixture scale this dim fits a broadcast, which would
# sidestep skew entirely (no shuffle at all) - the .hint("merge") pins
# the sort-merge path on purpose to exercise the regime salting exists
# for: BOTH sides too large to broadcast. At 100 TB the same plan holds:
# dim replication is |dim| x S rows (bounded, S fixed), the fact scan is
# stateless projection, and the post-join agg combines map-side on the
# low-cardinality segment key. AQE's skew-join split is the adaptive
# alternative; explicit salting is the portable, plan-level guarantee
# (works under any engine config, and for aggregations AQE can't split).
_SALT_S = 8


@query(
    "skew_salted_join_agg",
    oracle=f"""
    WITH f AS (
        SELECT event_id, value,
               CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END AS k
        FROM events
    ),
    d AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 150
    )
    SELECT d.c_mktsegment, count(*) AS n_events,
           {oracle_dsum('f.value', 6)} AS sum_value
    FROM f JOIN d ON f.k = d.c_custkey
    GROUP BY d.c_mktsegment
    ORDER BY d.c_mktsegment
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.when(F.col("user_id") % 10 < 7, F.lit(1))
        .otherwise(F.col("user_id"))
        .alias("k"),
        (F.col("event_id") % _SALT_S).alias("salt"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 150)
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_S - 1)))
        )
    )
    return (
        fact.hint("merge")  # pin SMJ: the regime salting exists for
        .join(
            dim,
            (fact.k == dim.c_custkey) & (fact.salt == dim.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, alias="sum_value"),
        )
        # no output sort: 5 segment rows, driver hash order-insensitive
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: pay the join shuffle ONCE at write time.
# Both sides are written as bucketed catalog tables (8 buckets on the
# join key, sorted within buckets); every later equi-join on that key
# then scans bucket-aligned splits and sort-merges with ZERO exchange on
# either side - the strategy for repeated fact-to-fact joins at 100 TB,
# where re-shuffling 100 TB per query is the dominant cost. The plan
# assertion lives in tests/test_storage.py: exactly ONE shuffle in the
# whole query (the final low-cardinality segment agg), none feeding the
# join.
#
# The bucketed tables are fixture SETUP (written once per data
# generation, reused across invocations - same contract as the streaming
# chunk feeds), stored as EXTERNAL tables under /tmp so the location is
# explicit regardless of the session's warehouse conf. bench.py pre-warms
# the build so no measured run absorbs the one-time write.
_BKT_N = 8
_BKT_ROOT = "/tmp/spark_graft_bucketed"


def ensure_bucketed_join_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib
    import shutil
    from pathlib import Path

    src = Path(sf_dir) / "orders.parquet"
    st = src.stat()
    gen = hashlib.md5(
        f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}|n{_BKT_N}|v1".encode()
    ).hexdigest()[:10]
    to, tc = f"orders_bkt_{gen}", f"cust_bkt_{gen}"
    if not (spark.catalog.tableExists(to) and spark.catalog.tableExists(tc)):
        for t in spark.catalog.listTables():
            if t.name.startswith(("orders_bkt_", "cust_bkt_")):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(_BKT_ROOT, ignore_errors=True)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .option("path", f"{_BKT_ROOT}/{gen}/{to}")
            .bucketBy(_BKT_N, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(to)
        )
        (
            load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.mode("overwrite")
            .option("path", f"{_BKT_ROOT}/{gen}/{tc}")
            .bucketBy(_BKT_N, "c_custkey")
            .sortBy("c_custkey")
            .saveAsTable(tc)
        )
    return to, tc


@query(
    "bucketed_colocated_join",
    oracle=f"""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           {oracle_dsum('o.o_totalprice')} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    to, tc = ensure_bucketed_join_tables(spark, sf_dir)
    o = spark.table(to)
    c = spark.table(tc)
    return (
        # hint pins sort-merge: at fixture scale Catalyst would broadcast
        # the small dim and never exercise the bucket alignment that is
        # the point of this operator (at 100 TB neither side broadcasts)
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", alias="total_price"),
        )
        # no output sort: 5 segment rows, driver hash order-insensitive
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning (DPP): the partition-elimination Catalyst can
# only do at RUNTIME - the pruning predicate is the result of another
# query (here: the 5 purchase-heaviest days), so no static filter exists
# at plan time. Spark injects a dynamicpruning subquery into the fact
# scan's PartitionFilters; at 100 TB this is the difference between
# scanning 5 partitions and scanning all of them. The fact is a
# day-partitioned copy of events written once per data generation
# (fixture setup, same contract as the bucketed join tables; bench.py
# pre-warms it), because the raw fixture is a single unpartitioned file.
# Plan assertion (tests/test_storage.py): "dynamicpruningexpression"
# inside the fact scan's partition filters.
_DPP_ROOT = "/tmp/spark_graft_dpp"
_DPP_HOT_DAYS = 5


def _ensure_derived_copy(root, sf_dir, write_fn, version="v1", marker="_SUCCESS"):
    """Shared scaffolding for the derived-storage fixtures (DPP copy,
    range/Z-order clustering, schema-evolution snapshots): one write per
    (source generation, writer version), keyed on the source file's
    size+mtime plus `version` - bump `version` whenever the writer's
    OUTPUT changes, or stale copies from older code survive the cache
    check. write_fn(dest: str) performs the actual write; `marker` is
    the file whose existence marks a completed write (parquet writers
    leave _SUCCESS; multi-dir writers touch their own)."""
    import hashlib
    import shutil
    from pathlib import Path

    src = Path(sf_dir) / "events.parquet"
    st = src.stat()
    gen = hashlib.md5(
        f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}|{version}".encode()
    ).hexdigest()[:10]
    dest = Path(root) / gen
    if not (dest / marker).exists():
        shutil.rmtree(dest, ignore_errors=True)
        write_fn(str(dest))
    return str(dest)


def ensure_day_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    def write(dest: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value", F.to_date("ts").alias("day"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(dest)
        )

    return _ensure_derived_copy(_DPP_ROOT, sf_dir, write)


@query(
    "dynamic_partition_pruned_join",
    oracle=f"""
    WITH hot AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY n_purchases DESC, day LIMIT {_DPP_HOT_DAYS}
    )
    SELECT h.day, e.event_type,
           count(*) AS n_events,
           {oracle_dsum('e.value', 6)} AS sum_value
    FROM events e JOIN hot h ON CAST(e.ts AS DATE) = h.day
    GROUP BY h.day, e.event_type
    ORDER BY h.day, e.event_type
    """,
)
def dynamic_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = spark.read.parquet(
        ensure_day_partitioned_events(spark, sf_dir)
    ).withColumn("day", F.col("day").cast("date"))
    hot = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_purchases"))
        .orderBy(F.desc("n_purchases"), "day")
        .limit(_DPP_HOT_DAYS)
    )
    return (
        fact.join(F.broadcast(hot), "day")  # bounded: LIMIT 5 rows
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, alias="sum_value"),
        )
        # no output sort: 25 rows, driver hash order-insensitive
    )


# ---------------------------------------------------------------------------
# Data-quality constraint suite (the dbt-tests / Deequ shape): declared
# expectations evaluated in bulk, one result row per constraint with its
# violation count - the gate a warehouse load runs before publishing a
# batch. Each check is a partial-agg scan or a keyed anti-join/groupBy;
# the suite is a UNION of 1-row aggregates, so the output is bounded by
# the number of declared constraints no matter the data size.
#
# Scale notes (100 TB): not_null / accepted_values / range checks are
# map-side partial counts (no shuffle beyond the final 1-row combine);
# uniqueness is one shuffle on the key (sum of per-key excess); FK
# integrity is a left-anti join - broadcast when the parent fits, keyed
# shuffle otherwise (no hint pinned here).


@query(
    "dq_constraint_violations",
    oracle="""
    SELECT * FROM (
        SELECT 'orders' AS table_name, 'o_orderkey_not_null' AS constraint_name,
               count(*) FILTER (o_orderkey IS NULL) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderkey_unique',
               CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        UNION ALL
        SELECT 'orders', 'o_custkey_fk_customer', count(*)
        FROM orders o WHERE NOT EXISTS (
            SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'orders', 'o_orderstatus_accepted', 
               count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P'))
        FROM orders
        UNION ALL
        SELECT 'orders', 'o_totalprice_positive',
               count(*) FILTER (o_totalprice <= 0)
        FROM orders
        UNION ALL
        SELECT 'customer', 'c_acctbal_not_null',
               count(*) FILTER (c_acctbal IS NULL)
        FROM customer
    ) ORDER BY table_name, constraint_name
    """,
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persists (r17): the six unioned checks re-scan
    # orders (5x) / customer (2x). At fixture scale an unconditional
    # persist LOST (r16 A/B min-of-3 0.66s -> 1.21s: InMemoryTableScan
    # of a row cache is slower than re-running trivial columnar scans
    # that ride idle cores); at corpus scale the re-scans are pure
    # added I/O, so the checked-column projections persist once the
    # scan fills the cores. The projections bound what the persist
    # materializes to exactly the columns the checks read.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders = caches.persist_when_scaled(orders, orders)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    cust = caches.persist_when_scaled(cust, cust)

    def check(df: DataFrame, table: str, name: str, violation) -> DataFrame:
        return df.agg(
            F.lit(table).alias("table_name"),
            F.lit(name).alias("constraint_name"),
            F.count(F.when(violation, 1)).alias("n_violations"),
        )

    unique = (
        orders.groupBy("o_orderkey")
        .agg((F.count("*") - 1).alias("excess"))
        .agg(
            F.lit("orders").alias("table_name"),
            F.lit("o_orderkey_unique").alias("constraint_name"),
            F.coalesce(F.sum("excess"), F.lit(0))
            .cast("bigint")
            .alias("n_violations"),
        )
    )
    fk = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti").agg(
            F.lit("orders").alias("table_name"),
            F.lit("o_custkey_fk_customer").alias("constraint_name"),
            F.count("*").alias("n_violations"),
        )
    )
    checks = [
        check(orders, "orders", "o_orderkey_not_null", F.col("o_orderkey").isNull()),
        unique,
        fk,
        check(
            orders,
            "orders",
            "o_orderstatus_accepted",
            ~F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        check(orders, "orders", "o_totalprice_positive", F.col("o_totalprice") <= 0),
        check(cust, "customer", "c_acctbal_not_null", F.col("c_acctbal").isNull()),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("table_name", "constraint_name")


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between table versions): given yesterday's and
# today's snapshot of the same keyed table, emit the change feed -
# inserted / deleted / updated keys - the audit primitive behind CDC
# replication, reverse ETL, and "what changed in this load?" debugging.
# Deterministic fixture versions: old = keys % 10 != 0 (today's %10==0
# rows are the inserts), new drops keys % 13 == 0 (the deletes) and
# bumps o_totalprice by +1.0 on keys % 7 == 0 (the updates; +1.0 is
# exact in double, so the inequality compare is bit-deterministic).
#
# Scale notes (100 TB): ONE full-outer sort-merge join on the key
# (both sides co-partition on it; Spark cannot broadcast full-outer, and
# neither side is small anyway), a stateless column-compare residual,
# output O(changes) not O(table).
@query(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                ELSE 'updated' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
       OR o.o_orderstatus <> n.o_orderstatus
    ORDER BY o_orderkey
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(
        n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    changed = (
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
    )
    return joined.where(changed).select(
        F.coalesce("o.o_orderkey", "n.o_orderkey").alias("o_orderkey"),
        F.when(F.col("o.o_orderkey").isNull(), F.lit("inserted"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("deleted"))
        .otherwise(F.lit("updated"))
        .alias("change_type"),
        # no output sort: O(changes) rows, driver hash order-insensitive
    )


# ---------------------------------------------------------------------------
# Table profiling (the column-stats pass every catalog/discovery tool
# runs): per column, row count, null count, exact distinct count. One
# bounded output row per column; each check is an independent 1-row agg
# over a SINGLE column - columnar scans prune to exactly that column, so
# the pass reads each byte once and the unioned plan parallelizes
# per-column rather than multiplying rows through an Expand.
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@query(
    "table_profile_orders",
    oracle="""
    SELECT * FROM (
    """
    + "\n    UNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name, count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct
        FROM orders"""
        for c in _PROFILE_COLS
    )
    + """
    ) ORDER BY column_name
    """,
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): one agg branch per profiled column
    # re-scans orders. At fixture scale an unconditional persist LOST
    # (r16 A/B min-of-3 0.74s -> 1.14s - the dq lesson); at corpus
    # scale the re-scans are pure added I/O, so the profiled-column
    # projection persists once the scan fills the cores. Note the
    # trade the gate is making: per-branch parquet scans prune to ONE
    # column each, while the persist materializes all profiled columns
    # once and reads them 4x - a win only when scan I/O dominates.
    orders = load_table(spark, sf_dir, "orders").select(*_PROFILE_COLS)
    orders = caches.persist_when_scaled(orders, orders)
    parts = [
        orders.agg(
            F.lit(c).alias("column_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(c)).alias("n_nulls"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Pearson correlation with EXACT moments: corr(daily purchase value,
# daily click value) across days - the feature-correlation primitive,
# computed so both engines agree to the bit. Built-in corr() accumulates
# floating-point moments in partition order (nondeterministic across
# engines AND partitionings); here every moment (n, sums, sums of
# squares/products) is an exact integer in micro-units (decimal(38,0) /
# HUGEINT - daily-total squares overflow int64), converted to double
# ONCE, and the textbook formula is the same IEEE op sequence both
# sides, so even round(6) boundaries cannot diverge.
#
# Scale notes (100 TB): one day-keyed agg with map-side partials, then a
# single-row global moment agg (partial-combined) - the classic
# two-level parallel-moments plan; nothing wide ever shuffles.
@query(
    "daily_value_correlation",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(value * 1000000) AS BIGINT) END) AS BIGINT),
                   0) AS px,
               coalesce(CAST(sum(CASE WHEN event_type = 'click'
                   THEN CAST(floor(value * 1000000) AS BIGINT) END) AS BIGINT),
                   0) AS py
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT count(*) AS n,
               sum(px) AS sx,
               sum(py) AS sy,
               CAST(CAST(sum(CAST(px AS HUGEINT) * px) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(py AS HUGEINT) * py) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(px AS HUGEINT) * py) AS VARCHAR) AS DOUBLE) AS sxy
        FROM daily
    )
    SELECT n AS n_days,
           round((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
               / sqrt((n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx)
                      * (n * syy - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * sy)), 6) AS corr_value
    FROM m
    """,
)
def daily_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
    )
    # r12: per-day u6 sums accumulate in decimal (the _daily_micro
    # class - a 100 TB/day split crosses int64), bigint output cast
    # mirroring the oracle's HUGEINT-sum-then-BIGINT-cast; the series
    # sums sx/sy stay decimal internally (see autocorr_daily_value).
    daily = ev.groupBy("day").agg(
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("u6")).cast(
                    "decimal(38,0)"
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("px"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("u6")).cast(
                    "decimal(38,0)"
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("py"),
    )
    pxd = F.col("px").cast("decimal(38,0)")
    pyd = F.col("py").cast("decimal(38,0)")
    m = daily.agg(
        F.count("*").alias("n"),
        F.sum(pxd).alias("sx"),
        F.sum(pyd).alias("sy"),
        F.sum(pxd * F.col("px")).cast("double").alias("sxx"),
        F.sum(pyd * F.col("py")).cast("double").alias("syy"),
        F.sum(pxd * F.col("py")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        n.alias("n_days"),
        F.round(
            (n * F.col("sxy") - sxd * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - sxd * F.col("sx"))
                * (n * F.col("syy") - syd * F.col("sy"))
            ),
            6,
        ).alias("corr_value"),
    )


# ---------------------------------------------------------------------------
# Order-insensitive table checksum: the replica-reconciliation primitive
# ("is the copy byte-equal to the source?") as one number - count plus
# the sum of a per-row 32-bit content hash over a CANONICAL row
# rendering. Canonicalization is what makes it cross-engine: doubles
# render via DECIMAL(30,2) (shortest-double printing differs between
# engines in e-notation thresholds; decimal strings do not), dates via
# ISO cast, all joined with a field separator that cannot appear in the
# values. Any single-row difference moves the sum (mod-2^32-per-row
# collisions aside - the same tradeoff every checksum reconciler makes).
#
# Scale notes (100 TB): stateless per-row hash + a 1-row partial-agg
# combine; no shuffle beyond the final combine, no row ever leaves its
# partition.
from .dedup import _DUCK_H32 as _CK_DUCK_H32  # noqa: E402
from .dedup import _SPARK_H32 as _CK_SPARK_H32  # noqa: E402

_CK_SPARK_ROW = (
    "concat_ws('|', cast(o_orderkey as string), cast(o_custkey as string), "
    "o_orderstatus, cast(cast(o_totalprice as decimal(30,2)) as string), "
    "cast(to_date(o_orderdate) as string), o_orderpriority)"
)
_CK_DUCK_ROW = (
    "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
    "o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(30,2)) AS VARCHAR), "
    "CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority)"
)


@query(
    "orders_table_checksum",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(__H32__) AS BIGINT) AS content_checksum
    FROM orders
    """.replace("__H32__", _CK_DUCK_H32.format(s=_CK_DUCK_ROW)),
)
def orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_rows"),
        # r13 review: h32 sums cross int64 at ~4.3e9 rows - decimal
        # accumulation; the bigint output cast raises loudly past int64
        # under the pinned ANSI mode (oracle mirrors with HUGEINT->BIGINT)
        F.sum(
            F.expr(_CK_SPARK_H32.format(s=_CK_SPARK_ROW)).cast(
                "decimal(38,0)"
            )
        )
        .cast("bigint")
        .alias("content_checksum"),
    )


# ---------------------------------------------------------------------------
# GDPR cascade delete (right-to-be-forgotten): apply a bounded batch of
# user-deletion requests across the event log and report the surviving
# per-event-type footprint plus an explicit audit row-set of what was
# purged. The request batch is a FIXED-COUNT deterministic pick (first
# B=16 distinct users in salted-md5 order - erasure requests arrive in
# bounded batches in production, so the broadcast is bounded by
# construction, never O(users)). The purge itself is the broadcast
# anti-join shape - the 100 TB plan: the fact table streams through map
# tasks once, no shuffle of the big side - realized here as a broadcast
# LEFT OUTER join plus kept/purged flags so the audit can count BOTH
# sides of the same single scan (a pure purge would filter where the
# probe misses, i.e. exactly the anti join).
_GDPR_BATCH = 16
_G_H_SPARK = _G_SH32.format(s="concat('gdpr-', cast(user_id as string))")
_G_H_DUCK = _G_DH32.format(s="concat('gdpr-', CAST(user_id AS VARCHAR))")


@query(
    "cascade_delete_users",
    oracle=f"""
    WITH del AS (
        SELECT user_id FROM (SELECT DISTINCT user_id FROM events)
        ORDER BY {_G_H_DUCK}, user_id LIMIT {_GDPR_BATCH}
    )
    SELECT e.event_type,
           count(*) FILTER (WHERE d.user_id IS NULL) AS surviving_events,
           count(*) FILTER (WHERE d.user_id IS NOT NULL) AS purged_events,
           {oracle_dsum('CASE WHEN d.user_id IS NULL THEN e.value END', 6)}
               AS surviving_value
    FROM events e LEFT JOIN del d ON e.user_id = d.user_id
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def cascade_delete_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.select("user_id")
        .distinct()
        .orderBy(F.expr(_G_H_SPARK), "user_id")
        .limit(_GDPR_BATCH)
    )
    purged = F.col("del_user_id").isNotNull()
    return (
        ev.join(
            F.broadcast(batch.select(F.col("user_id").alias("del_user_id"))),
            ev.user_id == F.col("del_user_id"),
            "left",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.when(~purged, F.lit(1))).alias("surviving_events"),
            F.count(F.when(purged, F.lit(1))).alias("purged_events"),
            dsum(
                F.when(~purged, F.col("value")), scale=6, alias="surviving_value"
            ),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Range-clustered storage layout (the ZORDER-lite every lakehouse table
# wants): write the event log repartitionByRange(ts) + sortWithinPartitions
# (ts) so each output file owns a disjoint time slice, then answer a
# narrow time-range query against the clustered copy. Because file N's
# row-group min/max stats cover a disjoint ts range, the range predicate
# prunes all but ~1 file at planning/row-group level - at 100 TB the
# difference between scanning the table and scanning minutes of it. The
# clustered copy is written once per data generation (same contract as
# the bucketed/DPP fixtures); the oracle answers from the raw table,
# proving layout does not change semantics.
_RANGE_ROOT = "/tmp/spark_graft_rangeclustered"
_RANGE_FILES = 16
_RANGE_LO = "2024-01-10 00:00:00"
_RANGE_HI = "2024-01-11 00:00:00"


def ensure_range_clustered_events(spark: SparkSession, sf_dir: str) -> str:
    def write(dest: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .repartitionByRange(_RANGE_FILES, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(dest)
        )

    return _ensure_derived_copy(_RANGE_ROOT, sf_dir, write)


@query(
    "range_clustered_scan",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           {oracle_dsum('value', 6)} AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts >= TIMESTAMP '{_RANGE_LO}' AND ts < TIMESTAMP '{_RANGE_HI}'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def range_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_range_clustered_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.where(
            (F.col("ts") >= F.lit(_RANGE_LO).cast("timestamp"))
            & (F.col("ts") < F.lit(_RANGE_HI).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, alias="sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Schema evolution across table snapshots: a v1 batch written before a
# column existed and a v2 batch written after must read back as ONE
# relation (mergeSchema), legacy rows surfacing NULL for the new column
# - the lakehouse schema-drift semantic (Snowflake/Glue schema evolution
# analog). The two snapshots are fixture setup written once per data
# generation; the query reads the union with parquet footer merging and
# rolls up by the evolved column, COALESCE-ing legacy NULLs into an
# 'unknown' bucket. At 100 TB footer merging is per-file metadata work
# only (no data rewrite - the entire point vs a backfill); the rollup is
# one map-side-combined agg. The oracle reconstructs the same union from
# the raw table, proving the storage-level evolution changed nothing.
_EVO_ROOT = "/tmp/spark_graft_schemaevo"
_EVO_CUTOFF = "2024-01-15 00:00:00"


def ensure_schema_evolution_snapshots(spark: SparkSession, sf_dir: str) -> str:
    def write(dest: str) -> None:
        from pathlib import Path

        ev = load_table(spark, sf_dir, "events")
        cutoff = F.lit(_EVO_CUTOFF).cast("timestamp")
        (
            ev.where(F.col("ts") < cutoff)
            .select("event_id", "ts", "user_id", "value")  # pre-evolution
            .write.mode("overwrite")
            .parquet(f"{dest}/v1")
        )
        (
            ev.where(F.col("ts") >= cutoff)
            .select("event_id", "ts", "user_id", "value", "event_type")
            .write.mode("overwrite")
            .parquet(f"{dest}/v2")
        )
        (Path(dest) / "_DONE").touch()

    return _ensure_derived_copy(_EVO_ROOT, sf_dir, write, marker="_DONE")


@query(
    "schema_evolution_union",
    oracle=f"""
    SELECT CASE WHEN ts < TIMESTAMP '{_EVO_CUTOFF}' THEN 'unknown'
                ELSE event_type END AS event_type,
           count(*) AS n_events,
           {oracle_dsum('value', 6)} AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY event_type
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_schema_evolution_snapshots(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/v1", f"{root}/v2"
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("event_type"), F.lit("unknown")).alias("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, alias="sum_value"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Denormalized nested export: collapse the orders->lineitem one-to-many
# into one row per order carrying its line set as a sorted CSV string
# (the REGISTERED contract is scalar-only: the driver canonicalizer
# cannot hash array cells - the r6 fail; keep arrays internal) - the
# document-store / API-export shape (and the write side of the
# reference's raw-JSON sink, K1, at entity granularity). collect_list
# inside a groupBy(orderkey) is safe here by CONSTRUCTION, not luck: the
# per-group array is bounded by lines-per-order (TPC-H max 7), so state
# per key is O(1) - the unbounded-collect_list OOM trap applies to
# power-law keys, not fixed-fanout FK groups. sort_array makes the
# array content deterministic regardless of shuffle arrival order. The
# orders side is date-pruned and unhinted (broadcast at fixture scale
# per stats; an orderkey-shuffle join at scale, whose partitioning the
# orderkey agg then reuses) - one exchange total in the executed plan.
@query(
    "orders_nested_export",
    oracle=f"""
    SELECT o.o_orderkey AS orderkey,
           any_value(o.o_orderstatus) AS orderstatus,
           array_to_string(list_sort(list(l.l_linenumber)), ',')
               AS line_numbers_csv,
           count(*) AS n_lines,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)}
               AS order_revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= DATE '2001-06-01'
    GROUP BY o.o_orderkey
    ORDER BY orderkey
    """,
)
def orders_nested_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-06-01").cast("date"))
        .select("o_orderkey", "o_orderstatus")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"))
        .agg(
            F.any_value(F.col("o_orderstatus")).alias("orderstatus"),
            F.array_join(
                F.sort_array(F.collect_list("l_linenumber")).cast(
                    "array<string>"
                ),
                ",",
            ).alias("line_numbers_csv"),
            F.count("*").alias("n_lines"),
            dsum(disc_price, scale=4, alias="order_revenue"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Z-order clustering (multi-dimensional layout): interleave the bits of
# (user_id, day-index) into one Morton code and range-cluster the
# storage on it, so rows close in EITHER dimension land in few files -
# the Delta OPTIMIZE ZORDER BY semantic, built from primitives: a pure
# JVM bit-twiddle projection, repartitionByRange + sortWithinPartitions,
# one write. A box query (user range x day range) then prunes on BOTH
# columns' per-file min/max stats, where single-column range clustering
# (range_clustered_scan above) prunes on only one. The registered query
# answers a box predicate from the z-clustered copy; the oracle answers
# from the raw table - layout invariance, same contract as the other
# storage-layout fixtures. The pruning effectiveness itself is asserted
# by tests/test_storage.py on file-level bounding boxes.
_Z_ROOT = "/tmp/spark_graft_zorder"
_Z_FILES = 16
_Z_BITS = 16
_Z_EPOCH = "2024-01-01"


def _morton(a: "F.Column", b: "F.Column") -> "F.Column":
    """Interleave the low _Z_BITS bits of two non-negative ints: bit i of
    `a` -> position 2i, bit i of `b` -> position 2i+1. Pure shifts/adds -
    codegen'd, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(
            F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


def ensure_zorder_clustered_events(spark: SparkSession, sf_dir: str) -> str:
    def write(dest: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "day_idx",
            F.datediff(F.to_date("ts"), F.lit(_Z_EPOCH).cast("date")),
        )
        (
            ev.withColumn("zval", _morton(F.col("user_id"), F.col("day_idx")))
            .repartitionByRange(_Z_FILES, "zval")
            .sortWithinPartitions("zval")
            # both derived sort columns dropped: the clustered copy must
            # be the raw table reordered, nothing more
            .drop("zval", "day_idx")
            .write.mode("overwrite")
            .parquet(dest)
        )

    # v2: v1 leaked the derived day_idx column into the copy's schema
    return _ensure_derived_copy(_Z_ROOT, sf_dir, write, version="v2")


_Z_U_LO, _Z_U_HI = 40, 80
_Z_D_LO, _Z_D_HI = 10, 17


@query(
    "zorder_box_scan",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           {oracle_dsum('value', 6)} AS sum_value
    FROM events
    WHERE user_id BETWEEN {_Z_U_LO} AND {_Z_U_HI}
      AND CAST(ts AS DATE) BETWEEN DATE '{_Z_EPOCH}' + {_Z_D_LO}
                               AND DATE '{_Z_EPOCH}' + {_Z_D_HI}
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_zorder_clustered_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    lo = F.lit(_Z_EPOCH).cast("date")
    return (
        ev.where(
            F.col("user_id").between(_Z_U_LO, _Z_U_HI)
            & F.to_date("ts").between(
                F.date_add(lo, _Z_D_LO), F.date_add(lo, _Z_D_HI)
            )
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, alias="sum_value"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: the top part pairs ordered together, with
# lift against each part's independent order frequency — the assortment/
# recommendation primitive. One shuffle on l_orderkey builds each
# order's sorted distinct basket array (bounded by basket size, a
# business constant — <= 13 in the fixtures), and pairs are generated
# IN-GROUP by array combination: fanout per order is (basket choose 2),
# never O(N), and no self-join ships the fact table twice. The basket
# relation feeds three branches (pairs, per-part order counts, order
# total), so it is persisted once. Lift joins part frequencies onto the
# 20-row result AFTER the top-k cut — dimension-sized state never
# crosses the limit. All lift arithmetic is exact-integer-to-double
# then IEEE multiply/divide, identically parenthesized in the oracle
# (which keeps the declarative self-join form — the outputs are
# set-defined integers, identical under either plan).
_BASKET_TOP = 20


@query(
    "market_basket_part_pairs",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_ord AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              FROM items),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
             FROM items GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    top AS (SELECT part_a, part_b, support FROM pairs
            ORDER BY support DESC, part_a, part_b LIMIT {_BASKET_TOP})
    SELECT t.part_a, t.part_b, t.support,
           fa.n_part AS n_a, fb.n_part AS n_b,
           (CAST(t.support AS DOUBLE) * CAST(n_ord.n_orders AS DOUBLE))
               / (CAST(fa.n_part AS DOUBLE) * CAST(fb.n_part AS DOUBLE))
               AS lift
    FROM top t
    JOIN freq fa ON fa.l_partkey = t.part_a
    JOIN freq fb ON fb.l_partkey = t.part_b
    CROSS JOIN n_ord
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shuffle builds the per-order basket array (sorted, distinct,
    # bounded by basket size); pair generation is then an in-group array
    # combination — the sorted order makes part_a < part_b free — with
    # no self-join at all. The oracle keeps the declarative self-join
    # form; the outputs are set-defined integers, identical either way.
    # (Measured at sf0.1: 4.1s self-join form -> 2.3s this form.)
    baskets = caches.persist(
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps")),
    )
    combos = F.explode(
        F.flatten(
            F.expr(
                "transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS part_a, y AS part_b)))"
            )
        )
    )
    top = (
        baskets.select(combos.alias("pair"))
        .groupBy(
            F.col("pair.part_a").alias("part_a"),
            F.col("pair.part_b").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )
    freq = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_part"))
    )
    n_ord = baskets.agg(F.count("*").alias("n_orders"))
    fa = freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    fb = freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    lift = (F.col("support").cast("double") * F.col("n_orders").cast("double")) / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return (
        top.join(fa, "part_a")
        .join(fb, "part_b")
        .join(F.broadcast(n_ord))
        .select("part_a", "part_b", "support", "n_a", "n_b", lift.alias("lift"))
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: users assigned to control/treatment by salted
# hash (the hash_split_assignment rule at 50/50), conversion = the user
# reached >= 15 purchase events (every fixture user purchases at least
# once, so presence alone is degenerate — pooled variance 0 and the z
# divide traps under ANSI; the threshold sits near the median at every
# SF), and the two-proportion pooled z-score — the number an
# experimentation platform prints next to every metric. One shuffle on
# user_id (the per-user conversion rollup), then a 2-row conditional
# collapse to a single output row; the z arithmetic is pure IEEE
# (+,-,*,/ and correctly-rounded sqrt), identically parenthesized in
# the oracle, so the statistic itself is hash-checked bit-exactly. A
# CASE guard returns NULL z when the pooled variance is 0 instead of
# trapping.
_AB_CONV_MIN = 15
_AB_SALT = "ab-v1-"
_AB_H_SPARK = _G_SH32.format(
    s=f"concat('{_AB_SALT}', cast(user_id as string))"
)
_AB_H_DUCK = _G_DH32.format(
    s="concat('" + _AB_SALT + "', CAST(user_id AS VARCHAR))"
)


@query(
    "ab_conversion_ztest",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN ({_AB_H_DUCK}) % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) >= {_AB_CONV_MIN}
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY 1, 2
    ),
    arms AS (
        SELECT CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_control,
               CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_treatment,
               CAST(sum(CASE WHEN arm = 'control' THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_control,
               CAST(sum(CASE WHEN arm = 'treatment' THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_treatment
        FROM assigned
    ),
    denom AS (
        SELECT *,
               sqrt(
                   ((CAST(conv_control + conv_treatment AS DOUBLE)
                       / (n_control + n_treatment))
                    * (1 - (CAST(conv_control + conv_treatment AS DOUBLE)
                            / (n_control + n_treatment))))
                   * ((CAST(1 AS DOUBLE) / n_control)
                      + (CAST(1 AS DOUBLE) / n_treatment))) AS se
        FROM arms
    )
    SELECT n_control, n_treatment, conv_control, conv_treatment,
           CAST(conv_control AS DOUBLE) / n_control AS rate_control,
           CAST(conv_treatment AS DOUBLE) / n_treatment AS rate_treatment,
           CASE WHEN se > 0 THEN
               ((CAST(conv_treatment AS DOUBLE) / n_treatment)
                 - (CAST(conv_control AS DOUBLE) / n_control)) / se
           END AS z_score
    FROM denom
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    arm = F.when(F.expr(_AB_H_SPARK) % 2 == 0, F.lit("control")).otherwise(
        F.lit("treatment")
    )
    assigned = (
        ev.groupBy("user_id", arm.alias("arm"))
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= _AB_CONV_MIN,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
    )
    arms = assigned.agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).alias(
            "n_control"
        ),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0)).alias(
            "n_treatment"
        ),
        F.sum(
            F.when(F.col("arm") == "control", F.col("converted")).otherwise(0)
        ).alias("conv_control"),
        F.sum(
            F.when(F.col("arm") == "treatment", F.col("converted")).otherwise(0)
        ).alias("conv_treatment"),
    )
    p_c = F.col("conv_control").cast("double") / F.col("n_control")
    p_t = F.col("conv_treatment").cast("double") / F.col("n_treatment")
    p_pool = (F.col("conv_control") + F.col("conv_treatment")).cast("double") / (
        F.col("n_control") + F.col("n_treatment")
    )
    inv_n = (F.lit(1).cast("double") / F.col("n_control")) + (
        F.lit(1).cast("double") / F.col("n_treatment")
    )
    se = F.sqrt((p_pool * (1 - p_pool)) * inv_n)
    return arms.withColumn("se", se).select(
        "n_control",
        "n_treatment",
        "conv_control",
        "conv_treatment",
        p_c.alias("rate_control"),
        p_t.alias("rate_treatment"),
        F.when(F.col("se") > 0, (p_t - p_c) / F.col("se")).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Robust outlier gate (median / MAD): the heavy-tail-safe sibling of
# value_zscore_outliers — mean/std break down when the outliers
# themselves inflate the moments; median and median-absolute-deviation
# do not. Values quantize to integer micro-units first, so both
# percentile passes interpolate over exact integers (midpoints are
# exact dyadic halves — the median_mode_by_status recipe) and every
# deviation/threshold comparison is IEEE-exact cross-engine. Plan: two
# grouped percentile passes and two broadcast-sized joins back, all
# keyed event_type — a bounded key domain, so every shuffle carries
# |groups|-scale aggregates except the first quantize projection.
@query(
    "mad_outlier_gate",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(vm, 0.5) AS med_m
        FROM v GROUP BY event_type
    ),
    dev AS (
        SELECT v.event_type, abs(vm - med_m) AS dm, med_m
        FROM v JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(dm, 0.5) AS mad_m
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           med_m / 1000000 AS median_value,
           mad_m / 1000000 AS mad_value,
           CAST(sum(CASE WHEN dm > 3 * mad_m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type, med_m, mad_m
    """,
)
def mad_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile(vm, 0.5)").alias("med_m")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("vm") - F.col("med_m")).alias("dm"),
        "med_m",
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dm, 0.5)").alias("mad_m")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_m", "mad_m")
        .agg(
            F.count("*").alias("n_values"),
            F.sum(
                F.when(F.col("dm") > 3 * F.col("mad_m"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_values",
            (F.col("med_m") / F.lit(1_000_000)).alias("median_value"),
            (F.col("mad_m") / F.lit(1_000_000)).alias("mad_value"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation: quartile-code every customer on Recency
# (days since last order), Frequency (order count), Monetary (lifetime
# spend), then count the population of each of the 64 segments — the
# classic CRM cut. Per-customer rollup is one o_custkey shuffle with
# decimal-exact spend; each quartile is an ntile(4) window whose ORDER
# BY carries c_custkey as tiebreak, so the assignment is a total order
# and deterministic in both engines (ntile depends only on row order).
# The recency anchor is the corpus max order date (data-relative, so
# frozen fixtures stay stable). Output is the bounded 4^3 segment
# histogram. Scale note: the three ntile windows are global-order
# windows over the CUSTOMER dimension (one row per customer, far below
# the fact table); at 100 TB the same cut would swap ntile for
# percent_rank against broadcast quartile boundaries from
# approxQuantile — the segment semantics, the part under test, are
# unchanged.
@query(
    "rfm_customer_segments",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate),
                         (SELECT max(o_orderdate) FROM orders)) AS recency_days,
               count(*) AS frequency,
               {oracle_dsum('o_totalprice', 2)} AS monetary
        FROM orders GROUP BY o_custkey
    ),
    coded AS (
        SELECT ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_quartile,
               ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_quartile,
               ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_quartile
        FROM per_cust
    )
    SELECT CAST(r_quartile AS INTEGER) AS r_quartile,
           CAST(f_quartile AS INTEGER) AS f_quartile,
           CAST(m_quartile AS INTEGER) AS m_quartile,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM coded GROUP BY 1, 2, 3
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            dsum("o_totalprice", scale=2, alias="monetary"),
        )
        .join(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.to_date("anchor"), F.to_date("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    coded = per_cust.select(
        F.ntile(4).over(W.orderBy("recency_days", "o_custkey")).alias(
            "r_quartile"
        ),
        F.ntile(4)
        .over(W.orderBy(F.desc("frequency"), "o_custkey"))
        .alias("f_quartile"),
        F.ntile(4)
        .over(W.orderBy(F.desc("monetary"), "o_custkey"))
        .alias("m_quartile"),
    )
    return coded.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count("*").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# ORC round-trip: write the events fact as ORC (Spark's second native
# columnar format - the Hive-ecosystem interchange surface), read it
# back, and answer an aggregate that must be layout-invariant vs the
# parquet original. Same contract as the other storage-layout fixtures:
# the oracle answers from the raw table, so any encode/decode loss,
# type coercion, or row drop in the ORC path breaks the hash. The write
# happens once per data generation (_ensure_derived_copy), not per run.
#
# Scale notes (100 TB): the write is an embarrassingly parallel
# per-partition encode (no shuffle - partitioning carries over); the
# read-back agg is the usual partial-combine. ts travels as
# unix_micros (ORC TIMESTAMP round-trips through writer-local epoch
# semantics; the micros bigint is representation-exact).
_ORC_ROOT = "/tmp/spark_graft_orc"


def ensure_orc_events(spark: SparkSession, sf_dir: str) -> str:
    def write(dest: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros(F.col("ts")).alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .orc(dest)
        )

    return _ensure_derived_copy(_ORC_ROOT, sf_dir, write)


@query(
    "orc_roundtrip_agg",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           {oracle_dsum('value', 6)} AS sum_value,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events
    GROUP BY event_type
    """,
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = spark.read.orc(ensure_orc_events(spark, sf_dir))
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
        dsum("value", 6, "sum_value"),
        F.min("ts_us").cast("bigint").alias("min_ts_us"),
        F.max("ts_us").cast("bigint").alias("max_ts_us"),
    )


# ---------------------------------------------------------------------------
# Bucketed replica reconciliation: orders_table_checksum localized - the
# Merkle-tree level between "one checksum per table" and "diff every
# row". Rows hash into 256 fixed buckets; primary and replica each
# produce per-bucket (count, content checksum) partials, and the
# compare emits one row per bucket with a match flag - at 100 TB the
# row-level diff then targets ONLY mismatched buckets, never the whole
# table. The "replica" is derived deterministically from the same scan
# by dropping rows whose salted hash lands on ~1/997 (simulated loss;
# a real replica reads the second copy with the identical bucket/row
# hash expressions).
#
# Canonical row rendering + 32-bit row hash reuse orders_table_checksum's
# proven cross-engine expressions; bucket ids are md5-uniform so bucket
# partials have no skew. All emitted values are exact integers.
#
# Scale notes (100 TB): two stateless scans, each feeding a 256-key
# map-side-combinable agg - no shuffle wider than 256 partials per map
# task; the compare is a bounded 256-row full-outer merge.
_RC_BUCKETS = 256
_RC_DROP_MOD = 997
_RC_SPARK_BKT = _CK_SPARK_H32.format(
    s="concat('bkt-', cast(o_orderkey as string))"
)
_RC_DUCK_BKT = _CK_DUCK_H32.format(
    s="concat('bkt-', CAST(o_orderkey AS VARCHAR))"
)
_RC_SPARK_DROP = _CK_SPARK_H32.format(
    s="concat('lost-', cast(o_orderkey as string))"
)
_RC_DUCK_DROP = _CK_DUCK_H32.format(
    s="concat('lost-', CAST(o_orderkey AS VARCHAR))"
)


@query(
    "replica_bucket_reconcile",
    oracle=f"""
    WITH p AS (
        SELECT ({_RC_DUCK_BKT}) % {_RC_BUCKETS} AS bucket,
               CAST(count(*) AS BIGINT) AS n_primary,
               CAST(sum({_CK_DUCK_H32.format(s=_CK_DUCK_ROW)}) AS BIGINT)
                   AS primary_checksum
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT ({_RC_DUCK_BKT}) % {_RC_BUCKETS} AS bucket,
               CAST(count(*) AS BIGINT) AS n_replica,
               CAST(sum({_CK_DUCK_H32.format(s=_CK_DUCK_ROW)}) AS BIGINT)
                   AS replica_checksum
        FROM orders
        WHERE ({_RC_DUCK_DROP}) % {_RC_DROP_MOD} != 0
        GROUP BY 1
    )
    SELECT p.bucket, p.n_primary,
           COALESCE(r.n_replica, 0) AS n_replica,
           p.primary_checksum,
           COALESCE(r.replica_checksum, 0) AS replica_checksum,
           CASE WHEN p.n_primary = COALESCE(r.n_replica, 0)
                 AND p.primary_checksum = COALESCE(r.replica_checksum, 0)
                THEN 1 ELSE 0 END AS buckets_match
    FROM p LEFT JOIN r ON r.bucket = p.bucket
    """,
)
def replica_bucket_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bkt = (F.expr(_RC_SPARK_BKT) % _RC_BUCKETS).alias("bucket")
    row_h = F.expr(_CK_SPARK_H32.format(s=_CK_SPARK_ROW))

    def side(df: DataFrame, n_name: str, ck_name: str) -> DataFrame:
        # r13 review: per-bucket h32 sums still cross int64 at ~1e12
        # rows/256 buckets - decimal accumulation; the bigint output
        # cast raises loudly past int64 under the pinned ANSI mode
        return df.groupBy(bkt).agg(
            F.count("*").alias(n_name),
            F.sum(row_h.cast("decimal(38,0)")).cast("bigint").alias(ck_name),
        )

    p = side(orders, "n_primary", "primary_checksum")
    r = side(
        orders.where(F.expr(_RC_SPARK_DROP) % _RC_DROP_MOD != F.lit(0)),
        "n_replica",
        "replica_checksum",
    )
    return p.join(r, "bucket", "left").select(
        "bucket",
        "n_primary",
        F.coalesce("n_replica", F.lit(0)).alias("n_replica"),
        "primary_checksum",
        F.coalesce("replica_checksum", F.lit(0)).alias("replica_checksum"),
        F.when(
            (F.col("n_primary") == F.coalesce("n_replica", F.lit(0)))
            & (
                F.col("primary_checksum")
                == F.coalesce("replica_checksum", F.lit(0))
            ),
            1,
        )
        .otherwise(0)
        .alias("buckets_match"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profile: the diagnosis that precedes skew_salted_join_agg's
# mitigation - per-key row counts for a prospective join/grouping key,
# reduced to the top-10 heaviest keys with each key's share of the table
# and its skew factor (count over the all-key average). The number a
# 100 TB plan review reads before deciding between plain shuffle, AQE
# skew splitting, or explicit salting: skew_factor ~1 = uniform,
# >>1 = hot-key trouble.
#
# Determinism: counts/totals are exact integers; share and skew_factor
# are single divisions (skew_factor's numerator cnt * n_keys stays well
# inside int64); top-10 rides the (count DESC, key) total order.
#
# Scale notes (100 TB): one map-side-combinable count agg on the key,
# TakeOrderedAndProject for the top-10, and a broadcast 1-row totals
# join - the diagnostic costs one pass, no wide shuffle beyond the
# count agg itself.
@query(
    "skew_key_profile",
    oracle="""
    WITH counts AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(n_rows) AS BIGINT) AS total_rows
            FROM counts),
    top AS (SELECT l_partkey, n_rows FROM counts
            ORDER BY n_rows DESC, l_partkey LIMIT 10)
    SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, l_partkey)
               AS BIGINT) AS rank,
           l_partkey, n_rows,
           CAST(n_rows AS DOUBLE) / CAST(total_rows AS DOUBLE) AS share,
           CAST(n_rows * n_keys AS DOUBLE) / CAST(total_rows AS DOUBLE)
               AS skew_factor
    FROM top CROSS JOIN tot
    """,
)
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_rows"))
    )
    tot = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
    )
    top = counts.orderBy(F.desc("n_rows"), "l_partkey").limit(10)
    w = W.orderBy(F.desc("n_rows"), "l_partkey")
    return (
        top.join(F.broadcast(tot))
        .select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            "l_partkey",
            "n_rows",
            (
                F.col("n_rows").cast("double")
                / F.col("total_rows").cast("double")
            ).alias("share"),
            (
                (F.col("n_rows") * F.col("n_keys")).cast("double")
                / F.col("total_rows").cast("double")
            ).alias("skew_factor"),
        )
    )


# ---------------------------------------------------------------------------
# Join-cardinality profile: PREDICT an equi-join's output size from the
# two sides' per-key histograms before running it - for an equi-join the
# output is exactly sum over keys of n_left(k) * n_right(k), so the
# per-key products localize blow-up ("which users explode the
# view x purchase join?") the way skew_key_profile localizes single-table
# skew. Profiled here: the view-side vs purchase-side of the funnel join
# on user_id. Emits the top-10 contributing keys with each key's pair
# count and share of the predicted join size.
#
# Determinism: counts and products are exact integers (pair products in
# decimal/HUGEINT - two 1e6-row sides on one key would pass 2^63);
# share is one double division; top-10 rides the (pairs DESC, user_id)
# total order.
#
# Scale notes (100 TB): ONE conditional-count agg on the join key with
# map-side combine (both sides' histograms in a single pass over the
# fact table - no join executed at all), TakeOrderedAndProject for the
# top-10, and a broadcast 1-row total. The diagnostic costs a projection
# scan, strictly cheaper than the join it sizes.
@query(
    "join_cardinality_profile",
    oracle="""
    WITH h AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_purchase
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id
    ),
    c AS (
        SELECT user_id, n_view, n_purchase,
               CAST(n_view AS HUGEINT) * n_purchase AS pairs
        FROM h WHERE n_view > 0 AND n_purchase > 0
    ),
    tot AS (SELECT sum(pairs) AS total_pairs FROM c),
    top AS (SELECT * FROM c ORDER BY pairs DESC, user_id LIMIT 10)
    SELECT CAST(row_number() OVER (ORDER BY pairs DESC, user_id)
               AS BIGINT) AS rank,
           user_id, n_view, n_purchase,
           CAST(pairs AS BIGINT) AS pairs,
           CAST(CAST(pairs AS VARCHAR) AS DOUBLE)
               / CAST(CAST(total_pairs AS VARCHAR) AS DOUBLE) AS share
    FROM top CROSS JOIN tot
    """,
)
def join_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("n_view"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchase"),
        )
    )
    c = h.where((F.col("n_view") > 0) & (F.col("n_purchase") > 0)).withColumn(
        "pairs",
        F.col("n_view").cast("decimal(38,0)") * F.col("n_purchase"),
    )
    tot = c.agg(F.sum("pairs").alias("total_pairs"))
    top = c.orderBy(F.desc("pairs"), "user_id").limit(10)
    w = W.orderBy(F.desc("pairs"), "user_id")
    return top.join(F.broadcast(tot)).select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "user_id",
        "n_view",
        "n_purchase",
        F.col("pairs").cast("bigint").alias("pairs"),
        (
            F.col("pairs").cast("double")
            / F.col("total_pairs").cast("double")
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# Retraction-aware aggregate refresh: maintain a materialized aggregate
# under DELETES by merging the stored partials with NEGATED partials of
# the deleted rows - the retraction half of MV maintenance
# (incremental_agg_refresh above handles inserts). Only INVERTIBLE
# aggregates survive this path: count and sum subtract exactly; max/min/
# distinct are NOT invertible and need a re-derive over the surviving
# group (or an auxiliary structure) - the avg here is derived from the
# two invertible partials. The oracle IS the full recompute over the
# surviving rows, so the hash match PROVES merge-with-retraction == full.
#
# Exactness: counts and decimal sums negate/add associatively with zero
# float involvement; avg divides the exact decimal sum by the exact
# count ONCE in double.
#
# Scale notes (100 TB): the stored MV is |groups| rows, the delete batch
# aggregates with map-side combine on its own size, and the merge is
# UNION ALL + one groupBy (no join) - cost O(deletes + groups), never
# O(history). Groups whose rows all vanish drop out via the exact n > 0
# filter.
@query(
    "retractable_agg_refresh",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE)
               AS sum_price,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_price
    FROM orders
    WHERE o_orderkey % 17 <> 3
    GROUP BY o_orderpriority
    """,
)
def retractable_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # the stored MV covers ALL history; the retraction batch is the
    # deterministic subset being deleted (GDPR erasure, bad-batch backout)
    deleted = orders.where(F.col("o_orderkey") % 17 == F.lit(3))

    def partial(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            (F.lit(sign) * F.count("*")).alias("n"),
            (
                F.lit(sign)
                * F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            ).alias("s"),
        )

    merged = (
        partial(orders, 1)
        .unionByName(partial(deleted, -1))
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s"))
        .where(F.col("n_orders") > 0)
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("s").cast("double").alias("sum_price"),
        (F.col("s").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency violation profile: for candidate column pairs
# det -> dep, count how many det values map to MORE than one dep value -
# the schema-discovery / data-quality probe behind normalization
# decisions and constraint inference (table_profile_orders profiles
# single columns; this profiles cross-column structure). The o_orderkey
# FD is the primary-key sanity check (must hold); the other two are
# expected-violated probes that quantify HOW non-functional the
# relationship is.
#
# Determinism: pure integer counts; det values stringify only as an
# internal grouping key (both engines' casts are injective per branch,
# and the key is never emitted, so format differences cannot matter);
# violation_rate is one double division.
#
# Scale notes (100 TB): one shuffle on the high-entropy (fd, det) key
# with a two-phase distinct agg (partial distinct map-side), then a
# 3-row final agg. Each candidate FD adds one UNION branch over the same
# scan - column pruning keeps it one pass per branch.
@query(
    "fd_violation_profile",
    oracle="""
    WITH f AS (
        SELECT 'o_orderkey->o_orderstatus' AS fd,
               CAST(o_orderkey AS VARCHAR) AS det, o_orderstatus AS dep
        FROM orders
        UNION ALL
        SELECT 'o_custkey->o_orderstatus',
               CAST(o_custkey AS VARCHAR), o_orderstatus
        FROM orders
        UNION ALL
        SELECT 'o_orderdate->o_orderpriority',
               CAST(o_orderdate AS VARCHAR), o_orderpriority
        FROM orders
    ),
    g AS (
        SELECT fd, det, count(DISTINCT dep) AS ndep FROM f GROUP BY 1, 2
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_det_values,
           CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CASE WHEN sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS fd_holds,
           CAST(CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
               / count(*) AS violation_rate
    FROM g GROUP BY fd
    """,
)
def fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): the three FD branches each re-scan
    # orders. No-op at fixture scale (the r16 cheap-subtree lesson); at
    # corpus scale the re-scans are pure added I/O, so the projection
    # of exactly the checked columns persists once the scan fills the
    # cores.
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        "o_orderstatus", "o_orderpriority",
    )
    o = caches.persist_when_scaled(o, o)

    def branch(fd: str, det: str, dep: str) -> DataFrame:
        return o.select(
            F.lit(fd).alias("fd"),
            F.col(det).cast("string").alias("det"),
            F.col(dep).alias("dep"),
        )

    f = (
        branch("o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus")
        .unionByName(
            branch("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus")
        )
        .unionByName(
            branch(
                "o_orderdate->o_orderpriority",
                "o_orderdate",
                "o_orderpriority",
            )
        )
    )
    g = f.groupBy("fd", "det").agg(F.count_distinct("dep").alias("ndep"))
    viol = F.sum(F.when(F.col("ndep") > 1, 1).otherwise(0))
    return g.groupBy("fd").agg(
        F.count("*").alias("n_det_values"),
        viol.cast("bigint").alias("n_violating"),
        F.when(viol == 0, 1).otherwise(0).alias("fd_holds"),
        (viol.cast("double") / F.count("*")).alias("violation_rate"),
    )


# ---------------------------------------------------------------------------
# Top-k plus OTHER rollup: the standard BI presentation aggregate - per
# nation, the 3 highest-revenue parts named individually and everything
# else collapsed into one OTHER bucket, so the report is bounded at
# (k + 1) rows per group no matter how wide the part catalog grows.
#
# Determinism: revenue stays exact DECIMAL through per-part aggregation,
# ranking (exact decimal comparison, partkey tiebreak), and the OTHER
# re-aggregation; ONE cast to double at the end.
#
# Scale notes (100 TB): fact shuffle on (nation, part) with map-side
# partials -> the per-part relation; rank is a window on the nation key
# with WindowGroupLimit-ineligible full pass (the OTHER bucket needs
# every row, not top-k - inherent to the rollup), but that pass runs on
# the AGGREGATED per-part relation, not the fact table; the regroup is
# bounded by (nations x (k+1)). Supplier/nation dims broadcast.
_TKO_K = 3


@query(
    "topk_plus_other_parts",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name, l.l_partkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(30,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS r
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    rk AS (
        SELECT n_name, l_partkey, r,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY r DESC, l_partkey) AS rn
        FROM rev
    ),
    lab AS (
        SELECT n_name,
               CASE WHEN rn <= {_TKO_K} THEN CAST(l_partkey AS VARCHAR)
                    ELSE 'OTHER' END AS part_label,
               r
        FROM rk
    )
    SELECT n_name, part_label,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(CAST(sum(r) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lab GROUP BY 1, 2
    """,
)
def topk_plus_other_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        # no broadcast hint on supplier (grows with the data); nation
        # stays hinted - genuinely bounded
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(30,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
            ).alias("r")
        )
    )
    w = W.partitionBy("n_name").orderBy(F.desc("r"), "l_partkey")
    lab = rev.withColumn("rn", F.row_number().over(w)).select(
        "n_name",
        F.when(
            F.col("rn") <= _TKO_K, F.col("l_partkey").cast("string")
        )
        .otherwise("OTHER")
        .alias("part_label"),
        "r",
    )
    return lab.groupBy("n_name", "part_label").agg(
        F.count("*").alias("n_parts"),
        F.sum("r").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Event-type Gram matrix: G[t1][t2] = sum over users of
# count(user, t1) * count(user, t2) - the co-engagement matrix (A^T A
# for the user x type count matrix) that powers "users who do X also do
# Y" similarity and feature-covariance features. The distributed Gram
# pattern: aggregate the tall-skinny matrix per row key first, then form
# pair products WITHIN each row - the corpus never materializes a
# cross join.
#
# Determinism: pure integer counts and products; the pair products sum
# in HUGEINT/decimal and emit one exact BIGINT (bounded by
# #users x max_count^2 - int64-safe far past fixture scale).
#
# Scale notes (100 TB): one (user, type) shuffle with map-side partials;
# the self-join runs per user on <= |type vocabulary| rows (bounded
# fan-out, co-partitioned on user_id - no second corpus shuffle); the
# final agg lands on the bounded type x type key.
@query(
    "event_type_gram_matrix",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(sum(CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS gram
    FROM c a JOIN c b
      ON a.user_id = b.user_id AND a.event_type <= b.event_type
    GROUP BY 1, 2
    """,
)
def event_type_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    a = c.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
    )
    b = c.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
    )
    return (
        a.join(b, "user_id")
        .where(F.col("type_a") <= F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.col("na").cast("decimal(19,0)") * F.col("nb"))
            .cast("bigint")
            .alias("gram")
        )
    )


# ---------------------------------------------------------------------------
# Freshness SLA monitor: per event source (event_type standing in for the
# ingest source), the last-seen event time, its lag behind the freshest
# source, and the SLA-breach flag - the staleness dashboard every
# multi-source ingest runs. Timestamps emit as exact epoch micros (house
# rule: never raw instants); lag is exact integer minutes.
#
# Scale notes (100 TB): one max-agg on the bounded source vocabulary
# with map-side partials (the fact table reduces before the exchange);
# the global max is a broadcast 1-row join.
_SLA_MINUTES = 60


@query(
    "freshness_sla_by_type",
    oracle=f"""
    WITH m AS (
        SELECT event_type, max(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1
    ),
    g AS (SELECT max(last_us) AS global_us FROM m)
    SELECT event_type, last_us,
           CAST((global_us - last_us) // 60000000 AS BIGINT)
               AS lag_minutes,
           CASE WHEN (global_us - last_us) // 60000000 > {_SLA_MINUTES}
                THEN 1 ELSE 0 END AS sla_breach
    FROM m CROSS JOIN g
    """,
)
def freshness_sla_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("last_us"))
    )
    g = m.agg(F.max("last_us").alias("global_us"))
    # integer `div`, matching the oracle's `//`: a double /-then-floor
    # path could straddle an exact minute boundary by one ulp
    lag = F.expr("(global_us - last_us) div 60000000").cast("bigint")
    return m.join(F.broadcast(g)).select(
        "event_type",
        "last_us",
        lag.alias("lag_minutes"),
        F.when(lag > _SLA_MINUTES, 1).otherwise(0).alias("sla_breach"),
    )


# ---------------------------------------------------------------------------
# CDC changelog compaction: collapse a multi-batch insert/update/delete
# changelog into one NET operation per key - the Debezium-style compaction
# every warehouse sink runs before applying CDC to a table (N ops become
# <=1). The op algebra: I..D cancels to nothing, I..(I|U) stays an
# INSERT carrying the last payload, (U|D)..D nets to DELETE, and
# (U|D)..(I|U) nets to UPDATE with the last payload. The changelog here
# is derived deterministically from orders (seq 1 inserts, seq 2 price
# updates, seq 3 deletes on overlapping key subsets) so keys exercise
# every composition.
#
# Determinism: first/last ops ride arg_min/arg_max on the unique
# (key, seq) order; prices stay exact DECIMAL until one double cast.
#
# Scale notes (100 TB): ONE shuffle on the high-entropy key with
# map-side combinable min_by/max_by partials - compaction cost is
# O(changelog), never O(table); the net batch then applies with the
# standard MERGE (merge_upsert_customer).
@query(
    "cdc_changelog_compaction",
    oracle="""
    WITH log AS (
        SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
               CAST(o_totalprice AS DECIMAL(30,2)) AS price
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'U',
               CAST(o_totalprice AS DECIMAL(30,2))
                   * CAST(1.1 AS DECIMAL(3,1))
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, 3, 'D', NULL
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    c AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_ops,
               arg_min(op, seq) AS first_op,
               arg_max(op, seq) AS last_op,
               arg_max(price, seq) AS last_price
        FROM log GROUP BY k
    )
    SELECT k AS o_orderkey, n_ops,
           CASE WHEN first_op = 'I' AND last_op = 'D' THEN 'NONE'
                WHEN first_op = 'I' THEN 'I'
                WHEN last_op = 'D' THEN 'D'
                ELSE 'U' END AS net_op,
           CASE WHEN last_op <> 'D'
                THEN CAST(last_price AS DOUBLE) END AS net_price
    FROM c
    """,
)
def cdc_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): the three changelog batches each
    # re-scan orders (different %-filters, same two columns). No-op at
    # fixture scale (the r16 cheap-subtree lesson); at corpus scale the
    # re-scans are pure added I/O, so the 2-column projection persists
    # once the scan fills the cores.
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    o = caches.persist_when_scaled(o, o)

    def batch(mod: int, seq: int, op: str, price):
        return o.where(F.col("o_orderkey") % mod == 0).select(
            F.col("o_orderkey").alias("k"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            price.alias("price"),
        )

    p = F.col("o_totalprice").cast("decimal(30,2)")
    log = (
        batch(5, 1, "I", p)
        .unionByName(
            batch(3, 2, "U", p * F.lit("1.1").cast("decimal(3,1)"))
        )
        .unionByName(
            batch(7, 3, "D", F.lit(None).cast("decimal(33,3)"))
        )
    )
    # Cross-engine NULL asymmetry, masked by construction (r10 review):
    # DuckDB's arg_max(price, seq) IGNORES rows whose VALUE is NULL (a
    # D op's last_price is the preceding U/I price), while Spark's
    # max_by returns the max-seq row's price verbatim (NULL for a D).
    # The engines would disagree on last_price for keys ending in D -
    # but net_price only reads last_price when last_op <> 'D', so the
    # divergent case is never emitted. Keep that guard if this op is
    # ever extended; emitting last_price unguarded would hash-mismatch.
    c = log.groupBy("k").agg(
        F.count("*").alias("n_ops"),
        F.min_by("op", "seq").alias("first_op"),
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("price", "seq").alias("last_price"),
    )
    return c.select(
        F.col("k").alias("o_orderkey"),
        "n_ops",
        F.when(
            (F.col("first_op") == "I") & (F.col("last_op") == "D"), "NONE"
        )
        .when(F.col("first_op") == "I", "I")
        .when(F.col("last_op") == "D", "D")
        .otherwise("U")
        .alias("net_op"),
        F.when(
            F.col("last_op") != "D", F.col("last_price").cast("double")
        ).alias("net_price"),
    )


# ---------------------------------------------------------------------------
# Rollup-lattice profile: for every non-empty subset of the candidate
# dimensions {status, priority, order-month}, the exact group count and
# its reduction ratio vs the base table - the cube-materialization sizing
# table (Harinarayan et al.'s lattice view selection input): a subset
# with few groups is cheap to materialize and answers its ancestors.
# One GROUPING SETS pass computes all 7 subsets; a second bounded agg
# counts groups per subset.
#
# Determinism: subset identity comes from per-column GROUPING() flags
# (0/1 per dim - engine-neutral), NOT the packed grouping_id, whose bit
# order is an engine implementation detail. All counts exact integers;
# one ratio division.
#
# Scale notes (100 TB): the GROUPING SETS expansion is Spark's native
# Expand node - one pass over the fact table, 7x rows into a
# map-side-combined agg keyed by the (bounded) group values; the outer
# agg and ratio run on |lattice| rows.
@query(
    "rollup_lattice_profile",
    oracle="""
    WITH base AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS m
        FROM orders
    ),
    g AS (
        SELECT GROUPING(s) AS gs, GROUPING(p) AS gp, GROUPING(m) AS gm
        FROM base
        GROUP BY GROUPING SETS ((s), (p), (m), (s, p), (s, m), (p, m),
                                (s, p, m))
    ),
    c AS (
        SELECT gs, gp, gm, CAST(count(*) AS BIGINT) AS n_groups
        FROM g GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base)
    SELECT concat(CASE WHEN gs = 0 THEN 's' ELSE '' END,
                  CASE WHEN gp = 0 THEN 'p' ELSE '' END,
                  CASE WHEN gm = 0 THEN 'm' ELSE '' END) AS dims,
           n_groups,
           CAST(n_groups AS DOUBLE) / CAST(n_rows AS DOUBLE)
               AS groups_per_row
    FROM c CROSS JOIN tot
    """,
)
def rollup_lattice_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
        F.date_trunc("month", F.to_date("o_orderdate")).alias("m"),
    )
    g = base.groupingSets(
        [["s"], ["p"], ["m"], ["s", "p"], ["s", "m"], ["p", "m"],
         ["s", "p", "m"]],
        "s",
        "p",
        "m",
    ).agg(
        F.grouping("s").alias("gs"),
        F.grouping("p").alias("gp"),
        F.grouping("m").alias("gm"),
    )
    c = g.groupBy("gs", "gp", "gm").agg(F.count("*").alias("n_groups"))
    tot = base.agg(F.count("*").alias("n_rows"))
    lab = F.concat(
        F.when(F.col("gs") == 0, "s").otherwise(""),
        F.when(F.col("gp") == 0, "p").otherwise(""),
        F.when(F.col("gm") == 0, "m").otherwise(""),
    )
    return c.join(F.broadcast(tot)).select(
        lab.alias("dims"),
        "n_groups",
        (
            F.col("n_groups").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("groups_per_row"),
    )


# ---------------------------------------------------------------------------
# k-anonymity profile: group the fact table by its quasi-identifier
# tuple (event type, ISO weekday, value-magnitude bucket) and report the
# minimum group size k plus how many rows sit in groups below the
# k = 5 disclosure threshold - the re-identification risk audit run
# before sharing "anonymized" event data (small QI groups single people
# out even with ids stripped).
#
# Determinism: the QI tuple is all-integer/string (weekday via the
# weekday()+1 == isodow bridge; the value bucket is sign + DIGIT COUNT
# of the integer magnitude - exact floor/abs/string ops, no float
# boundary); counts exact, one risk-share division.
#
# Scale notes (100 TB): ONE shuffle on the bounded QI key space
# (types x 7 x ~digit buckets) with map-side partials, then a 1-row
# reduction - the audit never moves the fact table.
@query(
    "k_anonymity_profile",
    oracle="""
    WITH q AS (
        SELECT event_type,
               isodow(CAST(ts AS DATE)) AS dow_iso,
               concat(CASE WHEN value < 0 THEN 'n' ELSE 'p' END,
                      CAST(length(CAST(CAST(floor(abs(value)) AS BIGINT)
                          AS VARCHAR)) AS VARCHAR)) AS vbucket
        FROM events
    ),
    g AS (
        SELECT event_type, dow_iso, vbucket,
               CAST(count(*) AS BIGINT) AS k
        FROM q GROUP BY 1, 2, 3
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM q)
    SELECT CAST(min(k) AS BIGINT) AS k_min,
           CAST(count(*) AS BIGINT) AS n_qi_groups,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
               AS n_rows_below_5,
           CAST(CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS VARCHAR) AS DOUBLE)
               / max(n_rows) AS risk_share
    FROM g CROSS JOIN t
    """,
)
def k_anonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.weekday("ts") + F.lit(1)).alias("dow_iso"),
        F.concat(
            F.when(F.col("value") < 0, "n").otherwise("p"),
            F.length(
                F.floor(F.abs("value")).cast("bigint").cast("string")
            ).cast("string"),
        ).alias("vbucket"),
    )
    g = q.groupBy("event_type", "dow_iso", "vbucket").agg(
        F.count("*").alias("k")
    )
    t = q.agg(F.count("*").alias("n_rows"))
    below = F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
    return g.join(F.broadcast(t)).agg(
        F.min("k").cast("bigint").alias("k_min"),
        F.count("*").alias("n_qi_groups"),
        below.cast("bigint").alias("n_rows_below_5"),
        (below.cast("double") / F.max("n_rows")).alias("risk_share"),
    )


# ---------------------------------------------------------------------------
# Week-over-week rank movers: rank parts by revenue inside each of the
# two most recent ship weeks, then report the 20 parts whose rank moved
# the most - the "top movers" panel on every merchandising dashboard
# (rank deltas, not revenue deltas: a mover is a change in RELATIVE
# position, robust to corpus-wide seasonality that shifts all revenue).
#
# Determinism: revenue accumulates as exact micro-unit ints (the tpch
# device) and BOTH rank cuts order by the exact integer sum with the
# part id tiebreak; the only double is the final /1e6 display
# conversion. Week identity comes from date_trunc('week') - ISO Monday
# in both engines.
#
# Scale notes (100 TB): the max-week anchor is a 1-row aggregate
# broadcast back (no collect); the two-week filter then prunes the
# corpus BEFORE the (part, week) shuffle, so the ranked relation is two
# weeks of per-part rows; both week ranks come from ONE window over the
# same (wk-partitioned) relation, and the movers join keys on part.
# Final top-20 is a TakeOrderedAndProject, never a global sort.
_WOW_TOP = 20


@query(
    "rank_movers_wow",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey,
               date_trunc('week', l_shipdate) AS wk,
               CAST(floor(l_extendedprice * (1 - l_discount) * 1000000
                   + 0.5) AS BIGINT) AS rev_micro
        FROM lineitem
    ),
    mx AS (
        SELECT max(wk) AS w_curr, max(wk) - INTERVAL 7 DAY AS w_prev
        FROM li
    ),
    weekly AS (
        SELECT l.l_partkey, l.wk, m.w_curr,
               CAST(sum(l.rev_micro) AS HUGEINT) AS rev_m
        FROM li l CROSS JOIN mx m
        WHERE l.wk = m.w_curr OR l.wk = m.w_prev
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT l_partkey, wk, w_curr, rev_m,
               row_number() OVER (
                   PARTITION BY wk ORDER BY rev_m DESC, l_partkey
               ) AS rnk
        FROM weekly
    )
    SELECT c.l_partkey AS part_key,
           CAST(p.rnk AS BIGINT) AS rank_prev,
           CAST(c.rnk AS BIGINT) AS rank_curr,
           CAST(p.rnk - c.rnk AS BIGINT) AS rank_delta,
           CAST(CAST(c.rev_m AS VARCHAR) AS DOUBLE) / 1000000 AS revenue_curr
    FROM ranked c
    JOIN ranked p ON p.l_partkey = c.l_partkey AND p.wk <> c.wk
    WHERE c.wk = c.w_curr
    ORDER BY abs(p.rnk - c.rnk) DESC, c.l_partkey
    LIMIT {_WOW_TOP}
    """,
)
def rank_movers_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("week", "l_shipdate").alias("wk"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_micro"),
    )
    mx = li.agg(F.max("wk").alias("w_curr")).withColumn(
        "w_prev", F.col("w_curr") - F.expr("INTERVAL 7 DAYS")
    )
    weekly = (
        li.crossJoin(F.broadcast(mx))
        .where((F.col("wk") == F.col("w_curr")) | (F.col("wk") == F.col("w_prev")))
        .groupBy("l_partkey", "wk", "w_curr")
        .agg(F.sum(F.col("rev_micro").cast("decimal(38,0)")).alias("rev_m"))
    )
    w = W.partitionBy("wk").orderBy(F.desc("rev_m"), "l_partkey")
    ranked = weekly.withColumn("rnk", F.row_number().over(w))
    # Scale-gated persist (r17): both sides of the rank self-join
    # re-run the lineitem scan + max-week agg + weekly rollup + rank
    # window (4 lineitem scans per plan). No-op at fixture scale (the
    # r16 cheap-subtree lesson); at corpus scale the part-bounded
    # ranked relation persists once the scan fills the cores.
    ranked = caches.persist_when_scaled(ranked, li)
    c, p = ranked.alias("c"), ranked.alias("p")
    return (
        c.where(F.col("c.wk") == F.col("c.w_curr"))
        .join(
            p,
            (F.col("p.l_partkey") == F.col("c.l_partkey"))
            & (F.col("p.wk") != F.col("c.wk")),
        )
        .select(
            F.col("c.l_partkey").alias("part_key"),
            F.col("p.rnk").cast("bigint").alias("rank_prev"),
            F.col("c.rnk").cast("bigint").alias("rank_curr"),
            (F.col("p.rnk") - F.col("c.rnk")).cast("bigint").alias("rank_delta"),
            (F.col("c.rev_m").cast("double") / F.lit(1_000_000)).alias(
                "revenue_curr"
            ),
        )
        .orderBy(F.abs(F.col("rank_delta")).desc(), "part_key")
        .limit(_WOW_TOP)
    )


# ---------------------------------------------------------------------------
# l-diversity profile: the companion audit to k_anonymity_profile
# (above) - group size alone does not stop attribute disclosure: a QI
# group of 50 rows that all share ONE sensitive value still reveals it
# for every member. Per quasi-identifier group (ISO weekday x value-
# magnitude bucket, the k-anonymity QI minus event_type) report k
# (size), l (distinct sensitive values - here event_type plays the
# sensitive attribute), and whether the group meets l >= 3.
#
# Scale notes (100 TB): ONE shuffle on the bounded QI key space with
# map-side partials (count + count-distinct over a 5-value sensitive
# domain); output is QI-space-sized, never corpus-sized.
@query(
    "l_diversity_profile",
    oracle="""
    SELECT isodow(CAST(ts AS DATE)) AS dow_iso,
           concat(CASE WHEN value < 0 THEN 'n' ELSE 'p' END,
                  CAST(length(CAST(CAST(floor(abs(value)) AS BIGINT)
                      AS VARCHAR)) AS VARCHAR)) AS vbucket,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT event_type) AS BIGINT) AS l,
           count(DISTINCT event_type) >= 3 AS meets_l3
    FROM events
    GROUP BY 1, 2
    """,
)
def l_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.weekday("ts") + F.lit(1)).alias("dow_iso"),
        F.concat(
            F.when(F.col("value") < 0, "n").otherwise("p"),
            F.length(
                F.floor(F.abs("value")).cast("bigint").cast("string")
            ).cast("string"),
        ).alias("vbucket"),
        "event_type",
    )
    return ev.groupBy("dow_iso", "vbucket").agg(
        F.count("*").alias("k"),
        F.count_distinct("event_type").alias("l"),
        (F.count_distinct("event_type") >= 3).alias("meets_l3"),
    )


# ---------------------------------------------------------------------------
# SRE error-budget burn: per day, the error rate (error events / all
# events) against a 1% SLO, the burn-rate multiple (rate/SLO), and the
# share of the running monthly budget consumed so far - the
# Google-SRE-workbook alerting table ("burn rate > 14x for an hour =
# page"). Daily counts are exact ints; the three ratios are final IEEE
# divisions; the running budget consumption is a cumulative sum over
# the bounded day axis.
#
# Scale notes (100 TB): ONE shuffle on the bounded day key with
# map-side partials (conditional counts); the cumulative window runs
# over the day-count-sized table, not the corpus.
_SLO_ERR = "0.01"  # 1% error budget (dyadic-exact literal not needed:
# both engines parse the same decimal to the same nearest double)


@query(
    "sre_error_budget_burn",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
                   AS n_errors
        FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM d)
    SELECT day, n_events, n_errors,
           CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS err_rate,
           (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
               / {_SLO_ERR} AS burn_rate,
           CAST(CAST(sum(n_errors) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
               / ({_SLO_ERR} * CAST(CAST(tot AS VARCHAR) AS DOUBLE)) AS budget_consumed
    FROM d CROSS JOIN t
    """,
)
def sre_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias(
                "n_errors"
            ),
        )
    )
    t = d.agg(F.sum("n_events").cast("bigint").alias("tot"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    rate = F.col("n_errors").cast("double") / F.col("n_events").cast("double")
    slo = F.expr(_SLO_ERR)
    return d.crossJoin(F.broadcast(t)).select(
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_errors").cast("bigint").alias("n_errors"),
        rate.alias("err_rate"),
        (rate / slo).alias("burn_rate"),
        (
            F.sum("n_errors").over(w).cast("double")
            / (slo * F.col("tot").cast("double"))
        ).alias("budget_consumed"),
    )


# ---------------------------------------------------------------------------
# Header-vs-detail reconciliation: per order, the header's o_totalprice
# against the recomputed line total sum(extendedprice x (1-discount) x
# (1+tax)), with the mismatch classified into exact / within-1% /
# beyond-1% - the daily tie-out every finance pipeline runs between an
# order header feed and its line-item feed. Line totals accumulate as
# exact micro-unit ints (the tpch device); the header lands in the same
# micro grid, so "exact" means integer equality, not a float epsilon.
# Output is the per-status reconciliation summary (bounded rows).
#
# Scale notes (100 TB): one orderkey-keyed shuffle for the line rollup,
# one join back to headers on the same key, then a bounded-key summary
# agg with map-side partials. Nothing is broadcast or collected.
@query(
    "order_header_reconcile",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                   * (1 + l_tax) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS line_total_micro
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderkey,
               CAST(floor(o.o_totalprice * 1000000 + 0.5) AS BIGINT)
                   AS header_micro,
               l.line_total_micro
        FROM orders o JOIN lines l ON o.o_orderkey = l.l_orderkey
    ),
    c AS (
        SELECT CASE
                 WHEN header_micro = line_total_micro THEN 'exact'
                 WHEN abs(header_micro - line_total_micro) * 100
                      <= abs(header_micro) THEN 'within_1pct'
                 ELSE 'beyond_1pct'
               END AS status,
               abs(header_micro - line_total_micro) AS adiff
        FROM j
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(adiff) AS DOUBLE) / 1000000 AS max_abs_diff,
           CAST(CAST(sum(adiff) AS VARCHAR) AS DOUBLE) / 1000000 AS total_abs_diff
    FROM c GROUP BY status
    """,
)
def order_header_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    line_micro = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    lines = (
        li.select("l_orderkey", line_micro.alias("lm"))
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("lm").cast("decimal(38,0)")).cast("bigint").alias(
            "line_total_micro"
        ))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("header_micro"),
    )
    j = orders.join(lines, orders.o_orderkey == lines.l_orderkey)
    adiff = F.abs(F.col("header_micro") - F.col("line_total_micro"))
    status = (
        F.when(F.col("header_micro") == F.col("line_total_micro"), "exact")
        .when(adiff * 100 <= F.abs(F.col("header_micro")), "within_1pct")
        .otherwise("beyond_1pct")
    )
    return (
        j.select(status.alias("status"), adiff.alias("adiff"))
        .groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            (F.max("adiff").cast("double") / F.lit(1_000_000)).alias(
                "max_abs_diff"
            ),
            (
                F.sum(F.col("adiff").cast("decimal(38,0)")).cast("double")
                / F.lit(1_000_000)
            ).alias("total_abs_diff"),
        )
    )


# ---------------------------------------------------------------------------
# Behavioral bitmask segments: encode each user's event-type repertoire
# as a 5-bit mask (click=1, view=2, purchase=4, signup=8, error=16),
# then count users per mask with a readable segment label - the
# "which behavior combinations exist and how big is each" cube that
# powers segment dashboards. The bitmask form is the roaring-bitmap/
# audience-index idea expressed relationally: set membership becomes
# integer algebra, and ANY combination query (has A and B but not C)
# is a mask filter on this 32-row summary instead of a corpus pass.
#
# Scale notes (100 TB): one user_id shuffle with map-side partial
# max-flags, then a bounded 32-key agg; output is mask-space-sized.
_MASK_BITS = (("click", 1), ("view", 2), ("purchase", 4), ("signup", 8),
              ("error", 16))


def _mask_label_sql() -> str:
    parts = ", ".join(
        f"CASE WHEN mask & {bit} <> 0 THEN '{name}' END"
        for name, bit in _MASK_BITS
    )
    return f"concat_ws('+', {parts})"


@query(
    "user_event_bitmask_segments",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               {' + '.join(
                   f"max(CASE WHEN event_type = '{name}' THEN {bit} ELSE 0 END)"
                   for name, bit in _MASK_BITS
               )} AS mask
        FROM events GROUP BY user_id
    )
    SELECT CAST(mask AS BIGINT) AS mask,
           {_mask_label_sql()} AS segment,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY mask
    """,
)
def user_event_bitmask_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    flags = [
        F.max(
            F.when(F.col("event_type") == name, F.lit(bit)).otherwise(0)
        ).alias(f"b_{name}")
        for name, bit in _MASK_BITS
    ]
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(*flags)
        .select(
            sum(
                [F.col(f"b_{name}") for name, _ in _MASK_BITS], F.lit(0)
            ).alias("mask")
        )
    )
    label = F.concat_ws(
        "+",
        *[
            F.when(F.col("mask").bitwiseAND(F.lit(bit)) != 0, F.lit(name))
            for name, bit in _MASK_BITS
        ],
    )
    return per_user.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_users")
    ).select(
        F.col("mask").cast("bigint").alias("mask"),
        label.alias("segment"),
        "n_users",
    )


# ---------------------------------------------------------------------------
# Business-day fulfillment latency: order date -> last ship date
# measured in WEEKDAYS, the SLA arithmetic ops teams actually commit to
# ("ships within 3 business days" - calendar-day latency penalizes
# weekend spans). Weekday counting is closed-form integer math, not a
# calendar join: with d' = epoch_day + 3 (so d' = 0 is a Monday),
# weekdays-before(d) = 5 * (d' div 7) + least(d' mod 7, 5); the span is
# the difference of two such prefix counts - exact, branch-free, and
# identical in both engines. Grouped per order priority with exact
# micro-precision averages.
#
# Scale notes (100 TB): one orderkey shuffle for the per-order ship
# max, a same-key join back to orders, then a bounded-priority rollup
# with map-side partials.
def _wd_before(col_sql: str) -> str:
    """SQL fragment: weekdays from the Monday epoch to {col} (DuckDB)."""
    d = f"(datediff('day', DATE '1970-01-01', {col_sql}) + 3)"
    return f"(5 * ({d} // 7) + least({d} % 7, 5))"


@query(
    "business_day_latency",
    oracle=f"""
    WITH shipped AS (
        SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS ship_day
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderpriority,
               {_wd_before('s.ship_day')}
                   - {_wd_before('CAST(o.o_orderdate AS DATE)')} AS bdays
        FROM orders o JOIN shipped s ON s.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(bdays) AS BIGINT) AS total_bdays,
           CAST(CAST(sum(bdays) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS avg_bdays,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM j GROUP BY 1
    """,
)
def business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("ship_day"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )

    def wd_before(c):
        d = F.datediff(c, F.lit("1970-01-01").cast("date")) + F.lit(3)
        return F.lit(5) * F.floor(d / 7) + F.least(d % 7, F.lit(5))

    j = orders.join(shipped, orders.o_orderkey == shipped.l_orderkey).select(
        "o_orderpriority",
        (wd_before(F.col("ship_day")) - wd_before(F.col("od"))).alias(
            "bdays"
        ),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("bdays").cast("bigint").alias("total_bdays"),
        (F.sum("bdays").cast("double") / F.count("*").cast("double")).alias(
            "avg_bdays"
        ),
        F.max("bdays").cast("bigint").alias("max_bdays"),
    )


# ---------------------------------------------------------------------------
# Discount elasticity profile: per discount level (the fixture's 2-
# decimal 0.00-0.10 grid - a BOUNDED key by data contract), average
# quantity, order-line volume, and revenue - the "does discounting move
# volume" table a pricing analyst reads before touching the dial.
# Discount identity is exact: the 2-decimal values are keyed by
# round-half-up micro-unit ints, never compared as raw doubles.
#
# Scale notes (100 TB): ONE shuffle on the bounded discount grid with
# map-side partials; revenue rides exact micro sums.
@query(
    "discount_elasticity_profile",
    oracle="""
    SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS discount_pct,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT)) AS VARCHAR) AS DOUBLE) / (1000000.0 * count(*)) AS avg_quantity,
           CAST(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
               * 1000000 + 0.5) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1000000
               AS revenue
    FROM lineitem
    GROUP BY 1
    """,
)
def discount_elasticity_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_micro = F.floor(
        F.col("l_quantity") * F.lit(1_000_000) + F.lit(0.5)
    ).cast("bigint")
    rev_micro = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        li.groupBy(
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("discount_pct")
        )
        .agg(
            F.count("*").alias("n_lines"),
            (
                F.sum(qty_micro.cast("decimal(38,0)")).cast("double")
                / (F.lit(1_000_000.0) * F.count("*"))
            ).alias("avg_quantity"),
            (
                F.sum(rev_micro.cast("decimal(38,0)")).cast("double")
                / F.lit(1_000_000)
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Multiset (ALL) set operations: EXCEPT ALL keeps duplicate
# MULTIPLICITY - "orders minus one occurrence per match" - which the
# DISTINCT set ops (except_small_orders, intersect_segment_buyers)
# cannot express. Here: the multiset of order PRIORITIES from the
# BUILDING segment minus the multiset from AUTOMOBILE, i.e. per
# priority max(n_building - n_automobile, 0) surviving copies - the
# duplicate-aware reconciliation shape (bag difference) used when
# comparing feeds that legitimately contain repeats. The output
# aggregates survivors per priority so the contract is explicit.
#
# Scale notes (100 TB): Spark plans exceptAll as a counted union
# (generate/replicate), all keyed on the value - one shuffle on the
# (bounded here, high-entropy in general) value key; the final rollup
# is bounded.
@query(
    "except_all_priorities",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_surviving
    FROM (
        SELECT o.o_orderpriority
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        EXCEPT ALL
        SELECT o.o_orderpriority
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = 'AUTOMOBILE'
    )
    GROUP BY 1
    """,
)
def except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def seg(name: str) -> DataFrame:
        return (
            orders.join(
                cust.where(F.col("c_mktsegment") == name),
                orders.o_custkey == cust.c_custkey,
            )
            .select("o_orderpriority")
        )

    return (
        seg("BUILDING")
        .exceptAll(seg("AUTOMOBILE"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_surviving"))
    )


# ---------------------------------------------------------------------------
# Price-volume-mix bridge: decompose the week-over-week revenue change
# into price effect (unit-price moves at current volume), volume effect
# (quantity moves at prior prices), and new/discontinued assortment -
# the FP&A "why did revenue change" waterfall. Per part present in both
# weeks the exact identity rev1 - rev0 = (p1-p0)q1 + (q1-q0)p0 splits
# the delta; parts only in one week land in the new/discontinued
# buckets whole. rank_movers_wow says WHICH parts moved; this says WHY
# the total moved.
#
# Determinism: weekly revenue/quantity are exact micro ints; unit
# prices are one IEEE division each; every per-part effect is quantized
# to micro ints BEFORE the corpus-wide sum (exact, order-free).
#
# Scale notes (100 TB): the two-week filter prunes at the scan (1-row
# max-week broadcast), ONE (part, week) shuffle builds both weekly
# grids, the bridge join keys on part, and the waterfall is a 1-row
# reduction.
@query(
    "price_volume_mix_bridge",
    oracle="""
    WITH li AS (
        SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
               CAST(floor(l_extendedprice * (1 - l_discount) * 1000000
                   + 0.5) AS BIGINT) AS rev_micro,
               CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT) AS qty_micro
        FROM lineitem
    ),
    mx AS (SELECT max(wk) AS w1, max(wk) - INTERVAL 7 DAY AS w0 FROM li),
    wk AS (
        SELECT l.l_partkey, l.wk = m.w1 AS is_curr,
               CAST(sum(l.rev_micro) AS BIGINT) AS rev,
               CAST(sum(l.qty_micro) AS BIGINT) AS qty
        FROM li l CROSS JOIN mx m
        WHERE l.wk = m.w1 OR l.wk = m.w0
        GROUP BY 1, 2
    ),
    c AS (SELECT l_partkey, rev AS rev1, qty AS qty1 FROM wk WHERE is_curr),
    p AS (SELECT l_partkey, rev AS rev0, qty AS qty0 FROM wk WHERE NOT is_curr),
    b AS (
        SELECT coalesce(c.l_partkey, p.l_partkey) AS part,
               c.rev1, c.qty1, p.rev0, p.qty0,
               CASE WHEN p.l_partkey IS NULL THEN 'new'
                    WHEN c.l_partkey IS NULL THEN 'discontinued'
                    ELSE 'common' END AS kind
        FROM c FULL JOIN p ON c.l_partkey = p.l_partkey
    ),
    eff AS (
        SELECT kind,
               coalesce(rev1, 0) - coalesce(rev0, 0) AS delta,
               CASE WHEN kind = 'common' THEN CAST(floor(
                   (CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE)
                    - CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
                   * CAST(qty1 AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END
                   AS price_eff,
               CASE WHEN kind = 'common' THEN CAST(floor(
                   CAST(qty1 - qty0 AS DOUBLE)
                   * (CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
                   + 0.5) AS BIGINT) ELSE 0 END AS vol_eff
        FROM b
    )
    SELECT CAST(CAST(sum(delta) AS VARCHAR) AS DOUBLE) / 1000000 AS total_delta,
           CAST(CAST(sum(price_eff) AS VARCHAR) AS DOUBLE) / 1000000 AS price_effect,
           CAST(CAST(sum(vol_eff) AS VARCHAR) AS DOUBLE) / 1000000 AS volume_effect,
           CAST(CAST(sum(CASE WHEN kind = 'new' THEN delta ELSE 0 END) AS VARCHAR) AS DOUBLE) / 1000000 AS new_effect,
           CAST(CAST(sum(CASE WHEN kind = 'discontinued' THEN delta ELSE 0 END) AS VARCHAR) AS DOUBLE) / 1000000 AS discontinued_effect,
           CAST(count(*) FILTER (kind = 'common') AS BIGINT) AS n_common,
           CAST(count(*) FILTER (kind = 'new') AS BIGINT) AS n_new,
           CAST(count(*) FILTER (kind = 'discontinued') AS BIGINT)
               AS n_discontinued
    FROM eff
    """,
)
def price_volume_mix_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("week", "l_shipdate").alias("wk"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_micro"),
        F.floor(F.col("l_quantity") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("qty_micro"),
    )
    mx = li.agg(F.max("wk").alias("w1")).withColumn(
        "w0", F.col("w1") - F.expr("INTERVAL 7 DAYS")
    )
    wk = (
        li.crossJoin(F.broadcast(mx))
        .where((F.col("wk") == F.col("w1")) | (F.col("wk") == F.col("w0")))
        .groupBy("l_partkey", (F.col("wk") == F.col("w1")).alias("is_curr"))
        .agg(
            F.sum(F.col("rev_micro").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("rev"),
            F.sum(F.col("qty_micro").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    # Scale-gated persist (r17): `wk` feeds both the current- and
    # prior-week sides of the bridge - the lineitem scan + max-week agg
    # + filter + rollup runs twice per plan (4 lineitem scans). No-op
    # at fixture scale (the r16 cheap-subtree lesson); at corpus scale
    # the part-bounded two-week rollup persists once the scan fills the
    # cores.
    wk = caches.persist_when_scaled(wk, li)
    c = wk.where("is_curr").select(
        F.col("l_partkey").alias("pk_c"),
        F.col("rev").alias("rev1"),
        F.col("qty").alias("qty1"),
    )
    p = wk.where(~F.col("is_curr")).select(
        F.col("l_partkey").alias("pk_p"),
        F.col("rev").alias("rev0"),
        F.col("qty").alias("qty0"),
    )
    b = c.join(p, c.pk_c == p.pk_p, "full_outer").select(
        F.when(F.col("pk_p").isNull(), "new")
        .when(F.col("pk_c").isNull(), "discontinued")
        .otherwise("common")
        .alias("kind"),
        "rev1",
        "qty1",
        "rev0",
        "qty0",
    )
    p1 = F.col("rev1").cast("double") / F.col("qty1").cast("double")
    p0 = F.col("rev0").cast("double") / F.col("qty0").cast("double")
    delta = F.coalesce("rev1", F.lit(0)) - F.coalesce("rev0", F.lit(0))
    price_eff = F.when(
        F.col("kind") == "common",
        F.floor((p1 - p0) * F.col("qty1").cast("double") + F.lit(0.5)).cast(
            "bigint"
        ),
    ).otherwise(0)
    vol_eff = F.when(
        F.col("kind") == "common",
        F.floor(
            (F.col("qty1") - F.col("qty0")).cast("double") * p0 + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(0)
    eff = b.select(
        "kind",
        delta.alias("delta"),
        price_eff.alias("price_eff"),
        vol_eff.alias("vol_eff"),
    )
    m = F.lit(1_000_000)
    return eff.agg(
        (F.sum(F.col("delta").cast("decimal(38,0)")).cast("double") / m).alias("total_delta"),
        (
            F.sum(F.col("price_eff").cast("decimal(38,0)")).cast("double") / m
        ).alias("price_effect"),
        (
            F.sum(F.col("vol_eff").cast("decimal(38,0)")).cast("double") / m
        ).alias("volume_effect"),
        (
            F.sum(
                F.when(F.col("kind") == "new", F.col("delta")).otherwise(0)
                .cast("decimal(38,0)")
            ).cast("double")
            / m
        ).alias("new_effect"),
        (
            F.sum(
                F.when(F.col("kind") == "discontinued", F.col("delta"))
                .otherwise(0)
                .cast("decimal(38,0)")
            ).cast("double")
            / m
        ).alias("discontinued_effect"),
        F.count(F.when(F.col("kind") == "common", 1))
        .cast("bigint")
        .alias("n_common"),
        F.count(F.when(F.col("kind") == "new", 1)).cast("bigint").alias("n_new"),
        F.count(F.when(F.col("kind") == "discontinued", 1))
        .cast("bigint")
        .alias("n_discontinued"),
    )


# ---------------------------------------------------------------------------
# MapType round-trip: build each user's map<event_type, count> with
# map_from_entries, derive per-type SHARES with transform_values (the
# map-native higher-order function), and explode back to rows - the
# Spark MAP column surface (build -> transform -> explode) a schema
# with semi-structured per-entity attributes lives on. The relational
# OUTPUT is deliberately map-free so the DuckDB oracle states the same
# contract without MAP support; what is under test is that the map
# pipeline reproduces it exactly.
#
# Scale notes (100 TB): one user-keyed agg builds the bounded (<= 5
# entry) maps; transform_values/explode are per-row; output rows =
# (user, type) pairs. The map never exceeds the type domain, so state
# per user is bounded by contract.
@query(
    "map_type_roundtrip_shares",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
    SELECT c.user_id, c.event_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
    FROM c JOIN t ON t.user_id = c.user_id
    """,
)
def map_type_roundtrip_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("counts")
    )
    tot = F.aggregate(
        F.map_values("counts"), F.lit(0).cast("bigint"), lambda a, v: a + v
    )
    shares = F.transform_values(
        "counts", lambda k, v: v.cast("double") / F.col("tot").cast("double")
    )
    return (
        m.withColumn("tot", tot)
        .withColumn("shares", shares)
        .select(
            "user_id",
            F.explode("counts").alias("event_type", "n"),
            "shares",
        )
        .select(
            "user_id",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.element_at("shares", F.col("event_type")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar dimension generation: the warehouse date spine - every day
# between the first and last order date with dow / ISO week / month /
# quarter / weekend attributes, validated by LEFT-joining daily order
# counts (zero-order days surface as n_orders = 0, which is the point
# of a spine: gaps become rows, not absences). Generated with
# sequence() from a 1-row min/max aggregate - no source table holds
# the calendar.
#
# Scale notes (100 TB): the spine is bounded by the date RANGE (days,
# not rows); generation is one explode off a 1-row broadcast; the
# validation join keys on day against the pre-aggregated (bounded)
# daily counts.
@query(
    "calendar_dim_generation",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS d0,
               max(CAST(o_orderdate AS DATE)) AS d1
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
            AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT s.day,
           CAST(isodow(s.day) AS BIGINT) AS dow_iso,
           CAST(weekofyear(s.day) AS BIGINT) AS iso_week,
           CAST(month(s.day) AS BIGINT) AS month,
           CAST(quarter(s.day) AS BIGINT) AS quarter,
           isodow(s.day) >= 6 AS is_weekend,
           coalesce(d.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
)
def calendar_dim_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day")
    )
    bounds = orders.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = orders.groupBy("day").agg(F.count("*").alias("n_orders"))
    dow_iso = (F.weekday("day") + F.lit(1)).cast("bigint")
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            dow_iso.alias("dow_iso"),
            F.weekofyear("day").cast("bigint").alias("iso_week"),
            F.month("day").cast("bigint").alias("month"),
            F.quarter("day").cast("bigint").alias("quarter"),
            (dow_iso >= 6).alias("is_weekend"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# LTV by order index: rank each customer's orders chronologically and
# report, per order INDEX (1st, 2nd, ... capped at 10+), how many
# customers reached it and the average order value at that depth - the
# cohort-free lifetime-value curve ("the 3rd order is worth 12% more
# than the 1st, and only 40% of customers get there") behind every
# retention-spend model. repeat_purchase_gap_days times the gaps; this
# values the sequence positions.
#
# Determinism: order ranks ride (date, orderkey) total order; values
# are exact micro sums; averages are single divisions.
#
# Scale notes (100 TB): ONE customer-keyed window ranks the orders
# (partitioned high-entropy), then a bounded (<= 10-row) index rollup
# with map-side partials.
@query(
    "ltv_by_order_index",
    oracle="""
    WITH r AS (
        SELECT o_custkey,
               least(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey), 10)
                   AS order_idx,
               CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT) AS v_micro
        FROM orders
    )
    SELECT CAST(order_idx AS BIGINT) AS order_idx,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(CAST(sum(v_micro) AS VARCHAR) AS DOUBLE) / (1000000.0 * count(*))
               AS avg_order_value
    FROM r GROUP BY 1
    """,
)
def ltv_by_order_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        F.floor(F.col("o_totalprice") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("v_micro"),
    )
    w = W.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    r = orders.select(
        "o_custkey",
        F.least(F.row_number().over(w), F.lit(10)).alias("order_idx"),
        "v_micro",
    )
    return r.groupBy(F.col("order_idx").cast("bigint").alias("order_idx")).agg(
        F.count("*").alias("n_orders"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
        (
            F.sum(F.col("v_micro").cast("decimal(38,0)")).cast("double")
            / (F.lit(1_000_000.0) * F.count("*"))
        ).alias("avg_order_value"),
    )


# ---------------------------------------------------------------------------
# Basket-size dispersion: the index of dispersion (Fano factor,
# variance / mean) of order line counts, with the size histogram - the
# "is basket size Poisson-like or bursty?" model check (D = 1 pure
# Poisson; D > 1 overdispersed - heavy baskets cluster; D < 1 more
# regular than random). Drives both the demand model and shuffle-skew
# expectations for basket-keyed jobs, all from exact integer moments.
#
# Scale notes (100 TB): one orderkey-keyed count, then a bounded
# size-histogram agg plus a 1-row exact-moment reduction.
@query(
    "basket_size_dispersion",
    oracle="""
    WITH b AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS sz
        FROM lineitem GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(sz) AS BIGINT) AS s1,
               CAST(sum(sz * sz) AS BIGINT) AS s2
        FROM b
    )
    SELECT n AS n_orders,
           CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_size,
           (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_size,
           ((CAST(CAST(s2 AS VARCHAR) AS DOUBLE) - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
               / (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) AS dispersion
    FROM m
    """,
)
def basket_size_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("sz"))
    )
    m = b.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("sz").cast("bigint").alias("s1"),
        F.sum(F.col("sz") * F.col("sz")).cast("bigint").alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
    ) / nd
    return m.select(
        F.col("n").alias("n_orders"),
        mean.alias("mean_size"),
        var.alias("var_size"),
        (var / mean).alias("dispersion"),
    )


# ---------------------------------------------------------------------------
# Duplicate-payment candidates: order pairs by the same customer in
# the same $10k amount band within 3 days - the AP fraud / double-
# submit audit shape. (Production uses exact cents; this fixture's
# synthetic prices are near-unique doubles, so the band is what makes
# the audit exercise real pairs - the BLOCKING mechanics are the
# surface under test.) Candidates block on (customer, band) BEFORE the
# time test, so the pair fan-out is per-(cust, band) group size, not
# per-customer activity - the discipline every self-join audit needs.
#
# Scale notes (100 TB): one shuffle on the high-entropy composite
# (custkey, amount_micro) key; in-group pairs come from the sorted-
# array combine (no self-join), bounded by duplicate-amount group
# sizes; the date test is per-pair integer math.
@query(
    "duplicate_payment_candidates",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(floor(o_totalprice / 10000) AS BIGINT) AS amt,
               o_orderkey,
               CAST(o_orderdate AS DATE) AS od
        FROM orders
    )
    SELECT a.o_custkey, CAST(a.amt AS BIGINT) AS amount_band,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(abs(datediff('day', a.od, b.od)) AS BIGINT) AS days_apart
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.amt = b.amt
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(datediff('day', a.od, b.od)) <= 3
    """,
)
def duplicate_payment_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") / F.lit(10_000))
        .cast("bigint")
        .alias("amt"),
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
    )
    grp = o.groupBy("o_custkey", "amt").agg(
        F.array_sort(
            F.collect_list(F.struct("o_orderkey", "od"))
        ).alias("os")
    )
    combos = F.explode(
        F.flatten(
            F.expr(
                "transform(os, (x, i) -> transform("
                "slice(os, i + 2, size(os)), "
                "y -> struct(x.o_orderkey AS order_a, y.o_orderkey AS order_b,"
                " x.od AS od_a, y.od AS od_b)))"
            )
        )
    )
    pairs = grp.select("o_custkey", "amt", combos.alias("p")).select(
        "o_custkey",
        "amt",
        "p.order_a",
        "p.order_b",
        F.abs(F.datediff("p.od_b", "p.od_a")).alias("days_apart"),
    )
    return pairs.where(F.col("days_apart") <= 3).select(
        "o_custkey",
        F.col("amt").cast("bigint").alias("amount_band"),
        "order_a",
        "order_b",
        F.col("days_apart").cast("bigint").alias("days_apart"),
    )


# ---------------------------------------------------------------------------
# Temporal consistency audit: lineitem ship dates vs their order's
# order date - the cross-TABLE time-arrow check (a ship date before its
# order date is corrupted data or clock skew) that the single-table
# dq_constraint_violations rules cannot see. Per priority: violation
# count and rate, the worst negative lag, and the maximum lead time.
#
# Scale notes (100 TB): one orderkey-keyed join (fact co-partitioned),
# per-row date arithmetic, bounded-priority rollup with partials.
@query(
    "temporal_consistency_audit",
    oracle="""
    WITH j AS (
        SELECT o.o_orderpriority,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS lag_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (lag_days < 0) AS BIGINT) AS n_violations,
           CAST(count(*) FILTER (lag_days < 0) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS violation_rate,
           CAST(coalesce(min(CASE WHEN lag_days < 0 THEN lag_days END), 0)
               AS BIGINT) AS worst_negative_lag,
           CAST(max(lag_days) AS BIGINT) AS max_lead_days
    FROM j GROUP BY 1
    """,
)
def temporal_consistency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", F.datediff("sd", "od").alias("lag_days")
    )
    viol = F.count(F.when(F.col("lag_days") < 0, 1))
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        viol.cast("bigint").alias("n_violations"),
        (viol.cast("double") / F.count("*").cast("double")).alias(
            "violation_rate"
        ),
        F.coalesce(
            F.min(F.when(F.col("lag_days") < 0, F.col("lag_days"))), F.lit(0)
        )
        .cast("bigint")
        .alias("worst_negative_lag"),
        F.max("lag_days").cast("bigint").alias("max_lead_days"),
    )


# ---------------------------------------------------------------------------
# Time-hierarchy rollup: revenue subtotals at year -> quarter -> month
# plus the grand total from ONE GROUP BY ROLLUP pass - the fiscal
# reporting pyramid (rollup_agg covers the flag hierarchy; this is the
# calendar one every finance close runs). Level identity comes from
# engine-neutral GROUPING() flags, not the packed grouping_id bit order
# (the rollup_lattice_profile lesson).
#
# Scale notes (100 TB): one shuffle keyed on the finest (y, q, m)
# grain; Spark computes the coarser levels from map-side partials of
# the same pass (Expand + partial agg), never re-reading the fact.
@query(
    "time_hierarchy_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(y) = 1 THEN -1 ELSE y END AS year,
           CASE WHEN GROUPING(q) = 1 THEN -1 ELSE q END AS quarter,
           CASE WHEN GROUPING(m) = 1 THEN -1 ELSE m END AS month,
           CAST(GROUPING(y) + GROUPING(q) + GROUPING(m) AS BIGINT)
               AS agg_level,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
               * 1000000 + 0.5) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1000000 AS revenue
    FROM (
        SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
               CAST(quarter(l_shipdate) AS BIGINT) AS q,
               CAST(month(l_shipdate) AS BIGINT) AS m,
               l_extendedprice, l_discount
        FROM lineitem
    )
    GROUP BY ROLLUP (y, q, m)
    """,
)
def time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("bigint").alias("y"),
        F.quarter("l_shipdate").cast("bigint").alias("q"),
        F.month("l_shipdate").cast("bigint").alias("m"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_micro"),
    )
    g = lambda c: F.grouping(c).cast("bigint")
    # grouping() is only valid INSIDE the rollup aggregate, so the level
    # masks are agg expressions, not a post-agg projection
    return (
        li.rollup("y", "q", "m")
        .agg(
            F.max(
                F.when(F.grouping("y") == 1, F.lit(-1).cast("bigint"))
                .otherwise(F.col("y"))
            ).alias("year"),
            F.max(
                F.when(F.grouping("q") == 1, F.lit(-1).cast("bigint"))
                .otherwise(F.col("q"))
            ).alias("quarter"),
            F.max(
                F.when(F.grouping("m") == 1, F.lit(-1).cast("bigint"))
                .otherwise(F.col("m"))
            ).alias("month"),
            (g("y") + g("q") + g("m")).alias("agg_level"),
            F.count("*").alias("n_lines"),
            (
                F.sum(F.col("rev_micro").cast("decimal(38,0)")).cast("double")
                / F.lit(1_000_000)
            ).alias("revenue"),
        )
        .select("year", "quarter", "month", "agg_level", "n_lines", "revenue")
    )


# ---------------------------------------------------------------------------
# Return rate by brand: per part brand, the share of line items flagged
# returned (l_returnflag = 'R') and the returned-revenue exposure - the
# merchandising QC table ("brand X returns 2x the base rate") that
# tpch_q10 (customer-level returns) does not slice. Exact counts, exact
# micro revenue, single divisions.
#
# Scale notes (100 TB): the fact joins the part dim on partkey (dim
# broadcastable at fixture scale, keyed shuffle at warehouse scale -
# no hint pinned); one bounded brand rollup with map-side partials.
@query(
    "return_rate_by_brand",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (l.l_returnflag = 'R') AS BIGINT)
               AS n_returned,
           CAST(count(*) FILTER (l.l_returnflag = 'R') AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS return_rate,
           CAST(CAST(sum(CASE WHEN l.l_returnflag = 'R'
               THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                   * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS VARCHAR) AS DOUBLE)
               / 1000000 AS returned_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
)
def return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_returnflag",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_micro"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ret = F.col("l_returnflag") == "R"
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.count(F.when(ret, 1)).cast("bigint").alias("n_returned"),
            (
                F.count(F.when(ret, 1)).cast("double")
                / F.count("*").cast("double")
            ).alias("return_rate"),
            (
                F.sum(
                    F.when(ret, F.col("rev_micro")).otherwise(0)
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1_000_000)
            ).alias("returned_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-aggregate pivot: one row per user with BOTH the count and the
# exact value total for each event type spread into columns - the
# wide-format feature frame (pivot_event_counts spreads counts only;
# real feature extraction wants several measures per pivoted key, which
# Spark's pivot(agg1, agg2) emits as suffixed columns in one pass).
# Registered output keeps two types x two measures (+ user) so the
# contract is explicit; the mechanics generalize to any measure list.
#
# Scale notes (100 TB): Spark plans multi-agg pivot as ONE user-keyed
# shuffle with map-side partials per (type, measure) - no per-measure
# re-scan; the column fan-out is bounded by the declared pivot values.
@query(
    "pivot_multi_agg_profile",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
               AS click_n,
           CAST(sum(CASE WHEN event_type = 'click'
               THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT) END)
               AS BIGINT) AS click_total_micro,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS purchase_n,
           CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT) END)
               AS BIGINT) AS purchase_total_micro
    FROM events
    GROUP BY user_id
    """,
)
def pivot_multi_agg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("vm"),
    )
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count(*) is invalid in pivot
            F.sum(F.col("vm").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("total_micro"),
        )
    )
    return p.select(
        "user_id",
        F.coalesce("click_n", F.lit(0)).cast("bigint").alias("click_n"),
        F.col("click_total_micro").cast("bigint").alias("click_total_micro"),
        F.coalesce("purchase_n", F.lit(0))
        .cast("bigint")
        .alias("purchase_n"),
        F.col("purchase_total_micro")
        .cast("bigint")
        .alias("purchase_total_micro"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV matrix: customers grouped by first-order YEAR, tracked by
# years-since-first - average CUMULATIVE revenue per cohort member at
# each age - the LTV curve finance discounts against acquisition cost
# (cohort_daily_retention counts WHO comes back; this accumulates what
# they are WORTH). Cumulative sums ride exact micro ints; the per-cell
# division is the only double.
#
# Scale notes (100 TB): one customer-keyed min-agg for the cohort, a
# same-key join back, a bounded (cohort x age) rollup, then cumulative
# windows over the bounded matrix.
@query(
    "cohort_ltv_matrix",
    oracle="""
    WITH fo AS (
        SELECT o_custkey, min(year(o_orderdate)) AS cohort_y
        FROM orders GROUP BY 1
    ),
    sz AS (SELECT cohort_y, CAST(count(*) AS BIGINT) AS cohort_n
           FROM fo GROUP BY 1),
    rev AS (
        SELECT f.cohort_y,
               year(o.o_orderdate) - f.cohort_y AS age_years,
               sum(CAST(floor(o.o_totalprice * 1000000 + 0.5)
                   AS BIGINT)) AS rev_micro
        FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_y, age_years,
               sum(rev_micro) OVER (PARTITION BY cohort_y
                   ORDER BY age_years
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_micro
        FROM rev
    )
    SELECT CAST(c.cohort_y AS BIGINT) AS cohort_year,
           CAST(c.age_years AS BIGINT) AS age_years,
           s.cohort_n,
           CAST(CAST(c.cum_micro AS VARCHAR) AS DOUBLE)
               / (1000000.0 * CAST(s.cohort_n AS DOUBLE))
               AS avg_cum_ltv
    FROM cum c JOIN sz s ON s.cohort_y = c.cohort_y
    """,
)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("oy"),
        F.floor(F.col("o_totalprice") * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("vm"),
    )
    # Scale-gated persist (r17): `fo` (first order year per customer)
    # feeds the cohort-size agg and the revenue join - 3 orders scans
    # per plan. No-op at fixture scale (the r16 cheap-subtree lesson);
    # at corpus scale the per-customer rollup persists once the scan
    # fills the cores.
    fo = orders.groupBy("o_custkey").agg(F.min("oy").alias("cohort_y"))
    fo = caches.persist_when_scaled(fo, orders)
    sz = fo.groupBy("cohort_y").agg(F.count("*").alias("cohort_n"))
    rev = (
        orders.join(fo, "o_custkey")
        .groupBy("cohort_y", (F.col("oy") - F.col("cohort_y")).alias("age_years"))
        # stay in decimal through the cumulative window (r10 BIGINT-sum
        # sweep): a cohort-year's micro-unit revenue is corpus-scale, so
        # a mid-plan bigint hop would already have wrapped before the
        # window summed it
        .agg(
            F.sum(F.col("vm").cast("decimal(38,0)")).alias("rev_micro")
        )
    )
    w = (
        W.partitionBy("cohort_y")
        .orderBy("age_years")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = rev.select(
        "cohort_y",
        "age_years",
        F.sum("rev_micro").over(w).alias("cum_micro"),
    )
    return cum.join(F.broadcast(sz), "cohort_y").select(
        F.col("cohort_y").cast("bigint").alias("cohort_year"),
        F.col("age_years").cast("bigint").alias("age_years"),
        F.col("cohort_n").cast("bigint").alias("cohort_n"),
        (
            F.col("cum_micro").cast("double")
            / (F.lit(1_000_000.0) * F.col("cohort_n").cast("double"))
        ).alias("avg_cum_ltv"),
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG surface): per market segment, the
# alphabetized distinct order-priority list as one delimited string -
# the report-header idiom ("segment X has seen priorities 1,2,3") that
# SQL users write as LISTAGG/STRING_AGG WITHIN GROUP. Realized with
# array_join(array_sort(collect_set())) so element order is explicit
# and deterministic - the semantics LISTAGG only gets WITH its ORDER BY
# clause (unordered listagg is nondeterministic, rejected here by
# construction).
#
# Scale notes (100 TB): one bounded-key shuffle; the collected sets are
# bounded by the priority domain, never by the fact row count.
@query(
    "listagg_priorities_by_segment",
    oracle="""
    SELECT c.c_mktsegment,
           string_agg(DISTINCT o.o_orderpriority, ','
               ORDER BY o.o_orderpriority) AS priorities,
           CAST(count(DISTINCT o.o_orderpriority) AS BIGINT)
               AS n_priorities
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def listagg_priorities_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.count_distinct("o_orderpriority")
            .cast("bigint")
            .alias("n_priorities"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k stability audit: Jaccard overlap of the top-100 revenue parts
# between the first and second halves of the ship-date range - the
# "how churny is my leaderboard?" metric that decides whether a weekly
# top-seller report is signal or noise (rank_movers_wow names WHO
# moved; stability says whether movement is NORMAL). One row: overlap
# size, Jaccard, and the half-period part universes.
#
# Determinism: the half boundary is exact date arithmetic off the 1-row
# min/max; revenue ranks ride exact micro sums with part tiebreaks;
# Jaccard is one division of exact set counts.
#
# Scale notes (100 TB): the (part, half) rollup is one fact shuffle;
# each half's top-100 is a TakeOrderedAndProject; the overlap join runs
# on two 100-row relations.
_TKS_K = 100


@query(
    "topk_stability_audit",
    oracle=f"""
    WITH b AS (SELECT min(CAST(l_shipdate AS DATE)) AS d0,
                      max(CAST(l_shipdate AS DATE)) AS d1 FROM lineitem),
    li AS (
        SELECT l.l_partkey,
               CAST(l.l_shipdate AS DATE)
                   <= b.d0 + CAST(((b.d1 - b.d0) // 2) AS INTEGER) AS first_half,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000000
                   + 0.5) AS BIGINT) AS rev
        FROM lineitem l CROSS JOIN b
    ),
    g AS (
        SELECT l_partkey, first_half, CAST(sum(rev) AS BIGINT) AS rev
        FROM li GROUP BY 1, 2
    ),
    t1 AS (SELECT l_partkey FROM g WHERE first_half
           ORDER BY rev DESC, l_partkey LIMIT {_TKS_K}),
    t2 AS (SELECT l_partkey FROM g WHERE NOT first_half
           ORDER BY rev DESC, l_partkey LIMIT {_TKS_K}),
    ov AS (SELECT CAST(count(*) AS BIGINT) AS n_common
           FROM t1 SEMI JOIN t2 ON t1.l_partkey = t2.l_partkey)
    SELECT {_TKS_K} AS k, ov.n_common,
           CAST(ov.n_common AS DOUBLE)
               / (2 * {_TKS_K} - ov.n_common) AS jaccard
    FROM ov
    """,
)
def topk_stability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li0 = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.to_date("l_shipdate").alias("sd"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev"),
    )
    b = li0.agg(F.min("sd").alias("d0"), F.max("sd").alias("d1"))
    g = (
        li0.crossJoin(F.broadcast(b))
        .select(
            "l_partkey",
            "rev",
            (
                F.col("sd")
                <= F.date_add(
                    F.col("d0"),
                    (F.datediff("d1", "d0") / 2).cast("int"),
                )
            ).alias("first_half"),
        )
        .groupBy("l_partkey", "first_half")
        .agg(F.sum(F.col("rev").cast("decimal(38,0)")).cast("bigint").alias("rev"))
    )

    # Scale-gated persist (r17): the two half-period top-k picks each
    # re-run the lineitem scan + bounds agg + per-half rollup (4
    # lineitem scans per plan). No-op at fixture scale (the r16
    # cheap-subtree lesson); at corpus scale the part-bounded per-half
    # revenue rollup persists once the scan fills the cores.
    g = caches.persist_when_scaled(g, li0)

    def top(first: bool):
        return (
            g.where(F.col("first_half") == first)
            .orderBy(F.desc("rev"), "l_partkey")
            .limit(_TKS_K)
            .select("l_partkey")
        )

    ov = top(True).join(top(False), "l_partkey", "left_semi").agg(
        F.count("*").cast("bigint").alias("n_common")
    )
    return ov.select(
        F.lit(_TKS_K).alias("k"),
        "n_common",
        (
            F.col("n_common").cast("double")
            / (2 * F.lit(_TKS_K) - F.col("n_common"))
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Region-to-region revenue flow matrix: customer region x supplier
# region revenue - the trade-flow BI matrix (tpch_q7 slices two named
# nations; this is the full bounded grid). Dims chain region <- nation
# <- customer/supplier; both lookup chains are bounded dimensions that
# broadcast; revenue rides exact micro sums.
#
# Scale notes (100 TB): the fact joins orders on orderkey (co-keyed)
# and the two bounded dim chains broadcast; ONE bounded (5 x 5) rollup
# with map-side partials finishes it.
@query(
    "region_flow_matrix",
    oracle="""
    SELECT rc.r_name AS cust_region, rs.r_name AS supp_region,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
               * 1000000 + 0.5) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1000000
               AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    JOIN region rc ON rc.r_regionkey = nc.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN region rs ON rs.r_regionkey = ns.n_regionkey
    GROUP BY 1, 2
    """,
)
def region_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_micro"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    # NO broadcast hint on the customer/supplier chains (r10 review):
    # nation/region are bounded and stay pinned broadcast, but customer
    # and supplier GROW with the data (the cohort_daily_retention rule)
    # - a pinned broadcast of a 1.5e9-row resolved dim is a driver OOM
    # at 100 TB. Unhinted, AQE broadcasts them at fixture scale
    # (measured plan- and time-identical) and shuffle-joins them at
    # warehouse scale.
    cdim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    sdim = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .groupBy("cust_region", "supp_region")
        .agg(
            F.count("*").alias("n_lines"),
            (
                F.sum(F.col("rev_micro").cast("decimal(38,0)")).cast("double")
                / F.lit(1_000_000)
            ).alias("revenue"),
        )
    )
