"""Reference relational surface (SURVEY.md §2a) on the testdata star schema.

Each query mirrors one operator family from the reference repo
(/root/reference, cites in docstrings) re-expressed as the equivalent shape
on the TPC-H-ish fixtures, per the analog table in FIXTURES.md §6:
songs fact -> lineitem/orders, album/artist dims -> part/customer/supplier.

Scale notes (100 TB):
 * recency filters compute the cutoff with a 2-phase scan - a single-column
   max() agg (parquet stats-only at best) then a literal pushed into the
   main scan, so partition/row-group pruning applies;
 * dim joins are broadcast explicitly (dims are ~1e-4 of fact);
 * top-k is always sort+limit => Catalyst TakeOrderedAndProject (no global
   sort materialization);
 * grouped top-k uses window row_number, which AQE shuffles by group key
   only once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import davg, dsum, oracle_davg, oracle_dsum, to_date_cascade
from ..registry import query
from ..tables import load_table


# ---------------------------------------------------------------------------
# A1 - ungrouped COUNT(*) (reference S:84-88, A:1-3: load-validation counts)
@query(
    "count_star",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
)
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


# ---------------------------------------------------------------------------
# Q1 shape (S:93-97): recency filter + global sort + LIMIT (P7 + O1).
# Cutoff is data-relative (max date - 7 days) so the query is stable on
# frozen fixtures; the reference's CURRENT_DATE anchor is the degenerate
# case of the same plan.
@query(
    "recent_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_shipdate >= (SELECT max(l_shipdate) - INTERVAL 7 DAY FROM lineitem)
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def recent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Scalar "subquery" as a broadcast 1-row cross join: no driver
    # round-trip, a single Spark job (round-1 verdict note). The stats-only
    # max() side reads one column; the BroadcastNestedLoopJoin with one row
    # costs nothing and the filter stays executor-side. Once the table is
    # date-partitioned, dynamic partition pruning applies the same way.
    cutoff = li.agg(
        (F.max("l_shipdate") - F.expr("INTERVAL 7 DAYS")).alias("_cutoff")
    )
    return (
        li.join(F.broadcast(cutoff))
        .where(F.col("l_shipdate") >= F.col("_cutoff"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.to_date("l_shipdate").alias("ship_date"),
        )
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q2 shape (S:100-108): fact JOIN dim + GROUP BY + AVG + multi-key sort
# (J1 + A2 + O3). Dim side broadcast: reference dim is ~100 rows vs 50/day
# fact; here customer is 1e-2 of lineitem-scale orders.
@query(
    "group_avg_join",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name,
           {oracle_davg('o.o_totalprice')} AS avg_price,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def group_avg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # customer grows with sf (1.5e9 rows at the 100 TB design point), so no
    # broadcast hint: AQE picks broadcast at small sf and falls back to a
    # shuffle join once the dim exceeds autoBroadcastJoinThreshold (r12 fix
    # of the round-10 lint finding; A/B-timed neutral at sf0.1).
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"), F.col("c_name").alias("cust_name")
        )
        .agg(
            davg("o_totalprice", alias="avg_price"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Q3 shape (S:111-118): threshold filter + GROUP BY + COUNT + sort desc +
# LIMIT (P8 + A3 + O2). Tiebreak on the group key keeps the limit total-
# ordered => deterministic across engines.
@query(
    "filter_group_count_topk",
    oracle="""
    SELECT l_suppkey AS suppkey, count(*) AS n_cheap
    FROM lineitem
    WHERE l_quantity <= 10
    GROUP BY l_suppkey
    ORDER BY n_cheap DESC, suppkey
    LIMIT 10
    """,
)
def filter_group_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") <= 10)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count("*").alias("n_cheap"))
        .orderBy(F.desc("n_cheap"), "suppkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q4 shape (S:121-126): point lookup + projection + time sort (P9 + O4).
# At 100 TB the partition/row-group pruning on the pushed l_partkey literal
# is what makes this a sub-second query.
@query(
    "point_lookup_series",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_partkey = 1
    ORDER BY ship_date, l_orderkey, l_linenumber
    """,
)
def point_lookup_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.to_date("l_shipdate").alias("ship_date"),
        )
        .orderBy("ship_date", "l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# J2: star join across two dims (songs->album + songs->artist analog,
# S:54-55). Both dims broadcast; the fact never shuffles for the join.
@query(
    "star_join_agg",
    oracle=f"""
    SELECT p.p_brand AS brand, n.n_name AS nation,
           {oracle_dsum('l.l_extendedprice')} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # part and supplier grow with sf (2e8 / 1e7 rows at 100 TB), so no
    # broadcast hint on either - AQE broadcasts them while they fit and
    # shuffles beyond. nation is a fixed 25-row table: hint stays.
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("n_name").alias("nation"))
        .agg(
            dsum("l_extendedprice", alias="revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("brand", "nation")
    )


# ---------------------------------------------------------------------------
# D1/D2: dedup-by-key with deterministic survivor (reference
# drop_duplicates P:108, P:130; survivor pinned to earliest event per
# SURVEY.md §7.3 - raw dropDuplicates keeps an arbitrary row).
@query(
    "dedup_earliest_survivor",
    oracle="""
    SELECT custkey, first_orderkey, first_orderdate FROM (
        SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
               CAST(o_orderdate AS DATE) AS first_orderdate,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn = 1
    ORDER BY custkey
    """,
)
def dedup_earliest_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("first_orderkey"),
            F.to_date("o_orderdate").alias("first_orderdate"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# D3: mixed-precision string->date cascade (P:109; Spotify release_date is
# yyyy | yyyy-MM | yyyy-MM-dd). The fixture has no string dates, so the
# query round-trips: format o_orderdate at one of 3 precisions chosen by
# key, then re-parse with the cascade.
@query(
    "date_cast_cascade",
    oracle="""
    SELECT o_orderkey, raw_date,
        CAST(coalesce(
            try_strptime(raw_date, '%Y-%m-%d'),
            try_strptime(raw_date, '%Y-%m'),
            try_strptime(raw_date, '%Y')
        ) AS DATE) AS parsed_date
    FROM (
        SELECT o_orderkey,
            CASE o_orderkey % 3
                WHEN 0 THEN strftime(o_orderdate, '%Y')
                WHEN 1 THEN strftime(o_orderdate, '%Y-%m')
                ELSE strftime(o_orderdate, '%Y-%m-%d')
            END AS raw_date
        FROM orders
    )
    ORDER BY o_orderkey
    """,
)
def date_cast_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    raw = F.when(
        F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy")
    ).when(
        F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    # no output sort: the driver's value hash is order-insensitive and a
    # global sort on a full-table projection is pure wasted shuffle at scale
    return orders.select("o_orderkey", raw.alias("raw_date")).withColumn(
        "parsed_date", to_date_cascade("raw_date")
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 pricing summary - the flagship agg (generalizes A2: multi-agg
# GROUP BY). Map-side partial agg + tiny shuffle; the canonical shape for
# "would this survive 100x" since only |groups| rows cross the wire.
@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dsum('l_quantity')} AS sum_qty,
           {oracle_dsum('l_extendedprice')} AS sum_base_price,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {oracle_davg('l_quantity')} AS avg_qty,
           {oracle_davg('l_extendedprice')} AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", alias="sum_qty"),
            dsum("l_extendedprice", alias="sum_base_price"),
            dsum(disc_price, scale=4, alias="sum_disc_price"),
            dsum(charge, scale=6, alias="sum_charge"),
            davg("l_quantity", alias="avg_qty"),
            davg("l_extendedprice", alias="avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Grouped top-k (generalizes O1 per group): window row_number. At scale this
# is one shuffle by group key; a SortMergeJoin-free pattern.
@query(
    "topk_per_group",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS rn
        FROM lineitem
    ) WHERE rn <= 3
    ORDER BY l_returnflag, rn
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 rows per l_returnflag (a 3-value key), declarative form.

    Scale note: a bare row_number() window over a 3-value key LOOKS like it
    shuffles the whole fact into 3 reducer partitions, and round 1 shipped
    a manual two-phase rewrite (local window over (group, partition-id),
    then the exact window over survivors) to avoid that. Catalyst's
    InferWindowGroupLimit rule (Spark 3.5+) makes the rewrite native: a
    rank-style window under a `rn <= k` filter gets a map-side
    WindowGroupLimit(Partial) BEFORE the exchange - each input split
    forwards at most k rows per group, so the per-group reducer sorts
    k x |splits| survivors, not 1/|groups| of the table - plus a Final
    prune after. The declarative form is also measurably faster than the
    hand-rolled two-phase (1.14s vs 1.33s, sf0.1 warm min-of-3), so the
    manual rewrite was deleted in round 5; the plan shape is asserted by
    tests/test_storage.py::test_topk_per_group_prunes_map_side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    order = (F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
    w = W.partitionBy("l_returnflag").orderBy(*order)
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
        .orderBy("l_returnflag", "rn")
    )




# ---------------------------------------------------------------------------
# TPC-H Q3 shipping-priority analog: 3-way join, selective filters on all
# three inputs, grouped revenue, top-10. The optimizer showcase - the
# mktsegment filter reaches the customer scan, the date filters reach the
# orders/lineitem scans (PushedFilters), customer broadcasts into orders,
# and only the surviving join output shuffles for the group-by. Top-10
# rides TakeOrderedAndProject on (revenue DESC, unique keys) - no global
# sort. (The fixture has no o_shippriority; o_orderpriority stands in.)
@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-03-15'
      AND l_shipdate > DATE '1998-03-15'
    GROUP BY l_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit("1998-03-15").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > F.lit("1998-03-15").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # the BUILDING filter keeps ~1/5 of customer, which still grows with sf
    # - no hint; AQE broadcasts the filtered side while it fits (r12 fix).
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(disc_price, scale=4, alias="revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 local-supplier-volume analog: 6-way snowflake join where the
# customer and supplier arms must agree on nationkey. Join order matters -
# region -> nation prunes first (broadcast), supplier/customer broadcast
# into the fact chain, and the c_nationkey = s_nationkey equality rides
# the customer join condition so mismatched pairs die before the agg.
# Only |nations| rows leave the final shuffle.
@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = (
        load_table(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    # asia_nations is nation⋈region (25 x 5 fixed rows): broadcast stays.
    # supplier itself grows with sf, so the derived supp side below carries
    # NO hint into the lineitem join - AQE decides (r12 fix).
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(dsum(disc_price, scale=4, alias="revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 forecast-revenue analog: the pure scan-filter-aggregate shape.
# Every predicate (ship-year range, discount band, quantity cap) is a
# plain comparison on a scanned column, so all three reach the parquet
# reader as PushedFilters and row-group min/max stats skip non-matching
# stripes before decode; the agg is a 1-row partial->final sum with no
# grouping shuffle at all. At 100 TB with date-partitioned lineitem the
# year range becomes static partition pruning and the query touches ~1/7
# of the table's files. The discount band compares doubles the fixtures
# generate at 2 decimal digits (0.00..0.10 step 0.01) - both engines
# read identical parquet bits and compare against identical literals.
@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {oracle_dsum('l_extendedprice * l_discount', 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * F.col("l_discount"),
                scale=4,
                alias="revenue",
            ),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 returned-items analog: quarter of orders x returned lines,
# grouped per customer, top-20 by lost revenue. Join strategy: customer
# GROWS with the data (TPC-H: 2.5% of lineitem rows), so it carries NO
# broadcast hint - at fixture scale Catalyst still picks BHJ from stats
# (executed-plan: 3 BHJ at sf0.01, correct there), and at TPC-H
# proportions customer exceeds any broadcast threshold so the join plans
# as a custkey-shuffle SMJ whose hash partitioning the groupBy
# (custkey, ...) reuses with no additional exchange. nation is a fixed
# 25-row table - broadcast explicitly. The date filter prunes orders at
# the scan; l_returnflag='R' prunes lineitem to a third.
@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           c.c_acctbal, n.n_name AS nation
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND l.l_returnflag = 'R'
      AND c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)  # no hint: O(N) side
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            "c_acctbal",
            F.col("n_name").alias("nation"),
        )
        .agg(dsum(disc_price, scale=4, alias="revenue"))
        .select("custkey", "cust_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 promo-effect analog: a market-share ratio - conditional
# aggregate over a fact x part join, one output row. Both the promo
# numerator and total denominator accumulate as exact decimals in the
# SAME single aggregation (one pass, no self-join); the only double op
# is the final divide, identical in both engines. part grows with the
# data (TPC-H: 3% of lineitem) so no broadcast hint - Catalyst picks BHJ
# from stats at small SF and falls back to a partkey-shuffle SMJ at
# scale, either of which is correct; only 2 narrow part columns ship.
@query(
    "tpch_q14_promo_effect",
    oracle=f"""
    SELECT 100.00 * {oracle_dsum(
        "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
        " ELSE 0 END", 4)}
           / {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)}
           AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= DATE '1996-09-01'
      AND l_shipdate < DATE '1996-10-01'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("date"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            dsum(promo, scale=4).alias("_promo"),
            dsum(disc_price, scale=4).alias("_total"),
            F.count("*").alias("n_lines"),
        )
        .select(
            (F.lit(100.00) * F.col("_promo") / F.col("_total")).alias(
                "promo_revenue_pct"
            ),
            "n_lines",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 top-supplier analog: the "view + scalar max" shape. The
# quarterly per-supplier revenue aggregates once; the global max is NOT a
# window over an unpartitioned frame (which would funnel the whole agg
# through one task) but a 1-row agg broadcast back over the revenue
# relation - the same scale-safe scalar-subquery pattern as recent_topk.
# The revenue relation is |suppliers| rows (O(N) but ~1e-4 of lineitem);
# it is MATERIALIZED once (caches.checkpoint) before fanning into the max
# and join branches - without that, each branch re-runs the full
# lineitem scan+agg (Catalyst does not auto-reuse the exchange across
# these branch shapes; verified executed-plan, 0 ReusedExchange), so the
# checkpoint halves the scans and caps the second branch at O(suppliers).
@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)}
                   AS total_rev
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # one lineitem scan serves both branches
    rev = caches.checkpoint(
        li.groupBy("l_suppkey").agg(dsum(disc_price, scale=4, alias="total_rev"))
    )
    top = rev.agg(F.max("total_rev").alias("_max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    winners = (
        rev.join(F.broadcast(top))  # 1-row scalar, BNLJ costs nothing
        .where(F.col("total_rev") == F.col("_max_rev"))
    )
    return (
        # broadcast the BOUNDED side: winners is the max-filtered rev
        # (ties only - typically 1 row); supplier is O(N) and streams.
        # Hinting supplier here would be the growing-relation broadcast
        # this module's other queries deliberately avoid (review
        # finding, this round).
        F.broadcast(winners)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "total_rev",
        )
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 large-volume-customer analog: HAVING on a grouped fact feeds
# a join back to orders/customer. The lineitem agg shuffles on orderkey;
# the HAVING filter cuts it to a handful of rows BEFORE the orders join,
# and that join reuses the orderkey hash partitioning (agg output is
# already clustered on the join key - no extra exchange on the big
# side). customer carries no broadcast hint (O(N) relation: Catalyst
# broadcasts from stats at fixture scale, shuffles on custkey at TPC-H
# proportions). Top-100 rides TakeOrderedAndProject.
@query(
    "tpch_q18_large_volume_customer",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name,
           o.o_orderkey AS orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_totalprice AS totalprice, q.sum_qty
    FROM customer c, orders o,
         (SELECT l_orderkey, {oracle_dsum('l_quantity', 2)} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(30,2))) > 300) q
    WHERE o.o_orderkey = q.l_orderkey
      AND c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity", scale=2, alias="sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("o_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 discounted-revenue analog: disjunctive (OR-of-ANDs) mixed
# fact/dim predicates. Catalyst CNF-converts the disjunction and pushes
# the derivable conjuncts to each scan: every branch requires
# l_quantity <= 30 and p_size >= 1 / p_brand IN (...), so both scans
# prune before the join; the residual OR evaluates post-join inside
# whole-stage codegen. (Adapted to the fixture schema - the reference
# columns shipmode/shipinstruct don't exist - brand x size x quantity
# bands carry the same plan shape.) part is O(N): no broadcast hint.
@query(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND (
        (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
         AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30)
      )
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#11") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#22") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#33") & sz.between(1, 15) & q.between(20, 30))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            dsum(disc_price, scale=4, alias="revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 global-sales-opportunity analog: dormant high-balance
# customers - a scalar-subquery threshold plus an anti-join. (Adapted:
# the fixtures have no phone country codes and every customer has SOME
# order, so "never ordered" is scoped to "no order since 2000-01-01" -
# same NOT EXISTS plan shape, non-empty answer.) The positive-balance
# average is a 1-row agg broadcast as a cross join (no driver
# round-trip); the anti join carries no hint - Catalyst broadcasts the
# date-pruned orders slice at fixture scale (executed-plan: BHJ
# LeftAnti) and shuffles on custkey when the slice outgrows the
# threshold; either way the probe side streams once. At 100 TB the date
# filter touches only the recent partitions. Output is bounded by
# |nations|.
@query(
    "tpch_q22_dormant_balance",
    oracle=f"""
    WITH thresh AS (
        SELECT {oracle_davg('c_acctbal')} AS avg_bal
        FROM customer WHERE c_acctbal > 0.00
    )
    SELECT c.c_nationkey AS nationkey,
           count(*) AS n_custs,
           {oracle_dsum('c.c_acctbal')} AS total_acctbal
    FROM customer c, thresh t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= DATE '2000-01-01'
      )
    GROUP BY 1
    ORDER BY 1
    """,
)
def tpch_q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    thresh = cust.where(F.col("c_acctbal") > 0.00).agg(
        davg("c_acctbal", alias="avg_bal")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(thresh))  # 1-row scalar threshold
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_custs"),
            dsum("c_acctbal", alias="total_acctbal"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery surface: top-2 customers by account
# balance PER NATION, written as SQL `FROM nation, LATERAL (SELECT ...
# WHERE correlated ORDER BY ... LIMIT 2)` - the per-row-subquery idiom
# SQL users reach for before they learn window functions. Spark 4
# decorrelates it (DecorrelateInnerQuery) into the same
# window-rank-filter plan topk_per_group builds explicitly, so the
# surface costs nothing at scale; the op exists to prove the engine
# accepts the SQL form (the reference's users live in SQL).
#
# Scale notes (100 TB): after decorrelation, one customer-side shuffle
# partitioned by nationkey with the rank cut applied map-side
# (WindowGroupLimit); the nation relation never drives row-at-a-time
# execution despite the lateral syntax.
@query(
    "lateral_topk_per_nation",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n,
    LATERAL (
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) c
    """,
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "__lat_nation"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM __lat_nation n,
        LATERAL (
            SELECT c_custkey, c_acctbal FROM __lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) c
        """
    )


# ---------------------------------------------------------------------------
# Relational division: parts shipped in EVERY year the corpus spans -
# the "FOR ALL" query shape (suppliers stocking every warehouse,
# students passing every requirement) that equi-joins cannot express
# directly. Realized as the count-distinct-equals-total device: a part
# divides the year set iff its distinct-year count equals the global
# year count - one fact-side aggregation and a 1-row broadcast, the
# scalable form of the classic double-NOT-EXISTS.
#
# Scale notes (100 TB): one (part, year) distinct + part-keyed count
# (map-side partials), a 1-row year-universe broadcast, and the
# equality filter. No nested correlated scans, nothing quadratic.
@query(
    "relational_division_parts_all_years",
    oracle="""
    WITH pm AS (
        SELECT DISTINCT l_partkey, year(l_shipdate) AS m
        FROM lineitem
    ),
    years AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS n_years FROM pm),
    per_part AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_m FROM pm GROUP BY 1
    )
    SELECT p.l_partkey AS part_key, p.n_m AS n_years_present
    FROM per_part p CROSS JOIN years t
    WHERE p.n_m = t.n_years
    """,
)
def relational_division_parts_all_years(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pm = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey", F.year("l_shipdate").alias("m")
        )
        .distinct()
    )
    years = pm.agg(F.count_distinct("m").cast("bigint").alias("n_years"))
    per_part = pm.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_m")
    )
    return (
        per_part.crossJoin(F.broadcast(years))
        .where(F.col("n_m") == F.col("n_years"))
        .select(
            F.col("l_partkey").alias("part_key"),
            F.col("n_m").alias("n_years_present"),
        )
    )
