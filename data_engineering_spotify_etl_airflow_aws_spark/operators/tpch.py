"""TPC-H analogs Q2/Q4/Q7/Q8/Q9/Q11/Q12/Q13/Q16/Q17/Q20/Q21 — completing
the 22-query suite (Q1/Q3/Q5/Q6/Q10/Q14/Q15/Q18/Q19/Q22 live in
relational.py and pipeline/). Like those, each query keeps the published
TPC-H shape (the join topology, subquery structure, and aggregate) but
re-targets the fixture schema where a TPC-H column does not exist:

 * there is no partsupp table, so the classic partsupp queries (Q2, Q9,
   Q11, Q16, Q20) run against a DERIVED partsupp: one row per observed
   (l_partkey, l_suppkey) pair, supply cost = the minimum unit price the
   supplier ever charged for the part, availability = total shipped
   quantity. The derivation is itself a realistic warehouse pattern
   (vendor catalog inferred from order history) and — because it is an
   aggregate OF the fact table — every ps join below is a fact-sized
   co-keyed shuffle, not a broadcast;
 * there is no l_commitdate/l_receiptdate, so "late" (Q4, Q12, Q21)
   means shipped more than N days after the order date;
 * p_container/p_mfgr filters map onto p_size/p_brand/p_name.

Cross-engine numeric contract: supply cost is a double DIVISION result
(extendedprice/quantity), so decimal-cast sums over it would hit the
half-tie hazard documented in functions.dsum. Following the house rule
for division-derived measures, the cost is quantized ONCE at derivation
to integer micro-units (floor(x*1e6 + 0.5), an IEEE op both engines
compute bit-identically) and all downstream arithmetic on it is integer-
exact: BIGINT products, DECIMAL(38,0) sums (HUGEINT on the DuckDB side),
one final int->double conversion. Money sums over raw fixture doubles
use dsum(scale=4) like the rest of the suite.

Scale notes (100 TB): nation/region are the only relations broadcast by
hint — they are fixed-cardinality. supplier/customer/part GROW with the
data (TPC-H scales them at SF x 10k/150k/200k), so their joins carry no
hint: at bench scale AQE picks broadcast, on a 1000-executor cluster
they degrade gracefully to shuffle joins co-partitioned on the join key.
All EXISTS/NOT-EXISTS subqueries are equality-keyed semi/anti joins on
l_orderkey (hash or sort-merge per stats — never a cartesian), and every
LIMIT rides a unique total order so Catalyst plans TakeOrderedAndProject
instead of a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import davg, dsum, oracle_davg, oracle_dsum
from ..registry import query
from ..tables import load_table

# Derived-partsupp CTE, shared verbatim by every partsupp-analog oracle.
# min() of an IEEE division is order-independent; the floor quantization
# runs on the single post-min value.
_PS_CTE = """
    ps AS (
        SELECT l_partkey AS ps_partkey,
               l_suppkey AS ps_suppkey,
               CAST(floor(min(l_extendedprice / l_quantity) * 1000000 + 0.5)
                    AS BIGINT) AS ps_supplycost_micro,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_shipqty
        FROM lineitem
        GROUP BY 1, 2
    )
"""


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp analog: one row per observed (part, supplier) pair.

    One hash aggregation over lineitem keyed (l_partkey, l_suppkey) —
    partial map-side combine, then a single shuffle on the composite key
    that downstream ps joins reuse (they join on the same key).
    """
    li = load_table(spark, sf_dir, "lineitem")
    unit_price = F.col("l_extendedprice") / F.col("l_quantity")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.floor(F.min(unit_price) * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("ps_supplycost_micro"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("ps_shipqty"),
    )


def _nations_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")


def _region_nations(spark: SparkSession, sf_dir: str, r_name: str) -> DataFrame:
    """(n_nationkey, n_name) for one region — the shared region->nation
    prune (Q2/Q8/Q20): both relations are fixed-cardinality, so the
    region side broadcasts per the module policy."""
    region = (
        load_table(spark, sf_dir, "region")
        .where(F.col("r_name") == r_name)
        .select("r_regionkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")


# ---------------------------------------------------------------------------
# TPC-H Q2 minimum-cost-supplier analog: for each EUROPE-sourced part of
# one size/type, the supplier(s) offering the groupwise-minimum supply
# cost. The correlated-min subquery becomes a window min over
# ps_partkey computed AFTER the part/region prunes, so only the few
# surviving candidate rows (not the whole ps relation) pay the window's
# p_partkey exchange — one extra shuffle of the pruned set, vs the
# self-join-with-min-agg form's two. Top-100 on a unique total order
# rides TakeOrderedAndProject (verified), never a global sort.
@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH {_PS_CTE}
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           CAST(ps.ps_supplycost_micro AS DOUBLE) / 1000000 AS supplycost
    FROM ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost_micro = (
          SELECT min(ps2.ps_supplycost_micro)
          FROM ps ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
          JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
          WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(_region_nations(spark, sf_dir, "EUROPE")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_size") == 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_name")
    )
    ps = _derived_partsupp(spark, sf_dir)
    cand = (
        ps.join(parts, ps.ps_partkey == parts.p_partkey)
        .join(supp, ps.ps_suppkey == supp.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "ps_supplycost_micro",
        )
    )
    min_cost = F.min("ps_supplycost_micro").over(W.partitionBy("p_partkey"))
    return (
        cand.withColumn("min_cost", min_cost)
        .where(F.col("ps_supplycost_micro") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("ps_supplycost_micro").cast("double") / F.lit(1_000_000)).alias(
                "supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 order-priority analog: one quarter of orders, EXISTS a line
# shipped >60 days after the order date ("late" on this schema — there
# is no commit/receipt date), counted by priority. The EXISTS is a
# LEFT SEMI hash join on o_orderkey with the lateness comparison as a
# residual join condition — each order emits at most once regardless of
# how many lines are late, and only the quarter's orders shuffle.
@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01'
      AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        orders.join(li, (orders.o_orderkey == li.l_orderkey) & late, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 volume-shipping analog: bilateral trade revenue between two
# nations by ship year. Supplier and customer each resolve their nation
# name early (broadcast of the 25-row nation table into each), the pair
# predicate rides the final join's residual condition, and only lines
# inside the two-year ship window ever shuffle. Four output groups.
@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {oracle_dsum('volume', 4)} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_1", "NATION_2")
    nations = _nations_named(spark, sf_dir).where(F.col("n_name").isin(*pair))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    crossed = (F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]) | (
        F.col("supp_nation") == pair[1]
    ) & (F.col("cust_nation") == pair[0])
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(crossed)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(volume, scale=4, alias="revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 national-market-share analog: NATION_3 suppliers' share of
# the AMERICA market's PROMO-part order volume, by order year. Share is
# a conditional decimal-exact sum over a plain one, each converted to
# double once before the single IEEE divide — deterministic on both
# engines. The p_type filter prunes parts BEFORE the fact join.
@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           {oracle_dsum('nation_volume', 4)} / {oracle_dsum('volume', 4)}
               AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               CASE WHEN n2.n_name = 'NATION_3'
                    THEN l_extendedprice * (1 - l_discount)
                    ELSE 0 END AS nation_volume
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    amer_nations = _region_nations(spark, sf_dir, "AMERICA").select("n_nationkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(amer_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_nations_named(spark, sf_dir)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_volume = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(nation_volume, scale=4) / dsum(volume, scale=4)
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 product-type-profit analog: profit on 'red' parts by supplier
# nation and order year, with supply cost taken from the derived
# partsupp. Per-line profit is integer micro-units (revenue quantized by
# the same floor rule as the cost), summed as DECIMAL(38,0)/HUGEINT —
# exact at any scale — and converted to double once. At fixture scale
# AQE broadcasts the aggregated ps (verified: BroadcastHashJoin); when
# ps outgrows a broadcast the join keys (l_partkey, l_suppkey) equal
# ps's own grouping key, so the SMJ reuses the aggregation exchange's
# partitioning on the ps side rather than adding one.
@query(
    "tpch_q9_product_profit",
    oracle=f"""
    WITH {_PS_CTE}
    SELECT nation, o_year,
           CAST(CAST(sum(CAST(amount_micro AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000
               AS profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
                    AS BIGINT)
                 - ps_supplycost_micro * CAST(l_quantity AS BIGINT)
                 AS amount_micro
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%red%'
    ) profit_lines
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_nations_named(spark, sf_dir)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ps = _derived_partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    revenue_micro = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    cost_micro = F.col("ps_supplycost_micro") * F.col("l_quantity").cast("bigint")
    return (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn("amount_micro", revenue_micro - cost_micro)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.col("amount_micro").cast("decimal(38,0)")).cast("double")
                / F.lit(1_000_000)
            ).alias("profit")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 important-stock analog: per-part inventory value held by one
# nation's suppliers (cost x shipped qty, integer-exact), keeping parts
# whose value exceeds a fixed fraction of the nation total. The per-part
# value relation feeds two branches (the filter and the 1-row total that
# broadcasts back); Catalyst does NOT unify them (verified — the alias
# sets differ), so the relation is persisted: the lineitem-sized ps
# derivation runs once and both branches read the |parts|-row cache.
# The threshold comparison converts each exact integer to double once
# (deterministic both engines).
@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH {_PS_CTE},
    val AS (
        SELECT ps_partkey,
               CAST(sum(CAST(ps_supplycost_micro AS HUGEINT) * ps_shipqty)
                    AS DECIMAL(38,0)) AS value_micro
        FROM ps
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY ps_partkey
    )
    SELECT ps_partkey,
           CAST(CAST(value_micro AS VARCHAR) AS DOUBLE) / 1000000 AS stock_value
    FROM val
    WHERE CAST(CAST(value_micro AS VARCHAR) AS DOUBLE)
          > (SELECT CAST(CAST(sum(value_micro) AS VARCHAR) AS DOUBLE) * 0.0001 FROM val)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _nations_named(spark, sf_dir).where(F.col("n_name") == "NATION_7")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    ps = _derived_partsupp(spark, sf_dir)
    val = caches.persist(
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .groupBy("ps_partkey")
        .agg(
            # r12 fix (SCALING_r10 hit list): cast ONE FACTOR to decimal
            # BEFORE the multiply - the previous bigint*bigint product
            # wrapped at ~9.2e18 BEFORE its decimal cast could see the
            # true value (cost_micro ~1e9 x a hot part's corpus shipqty
            # crosses that at the 100 TB design point). The oracle takes
            # the same product in HUGEINT.
            F.sum(
                F.col("ps_supplycost_micro").cast("decimal(38,0)")
                * F.col("ps_shipqty")
            )
            .cast("decimal(38,0)")
            .alias("value_micro")
        ),
    )
    total = val.agg(
        (F.sum("value_micro").cast("double") * F.lit(0.0001)).alias("threshold")
    )
    return (
        val.join(F.broadcast(total))
        .where(F.col("value_micro").cast("double") > F.col("threshold"))
        .select(
            "ps_partkey",
            (F.col("value_micro").cast("double") / F.lit(1_000_000)).alias(
                "stock_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shipmode-priority analog (l_returnflag stands in for the
# absent l_shipmode): lines shipped >30 days late within one year,
# split into high/low order-priority counts per flag. One equi-join on
# o_orderkey with the lateness predicate as residual, then conditional
# counts — 3 output rows.
@query(
    "tpch_q12_late_line_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def tpch_q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("l_orderkey", "l_shipdate", "l_returnflag")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, (li.l_orderkey == orders.o_orderkey) & late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 customer-distribution analog: orders per customer (excluding
# one priority class, the comment-filter stand-in), then the histogram
# of those counts. Two aggregations — the first keyed c_custkey after a
# LEFT join that keeps order-less customers at count 0, the second over
# the tiny count domain. count(o_orderkey) skips the nulls the left
# join introduces, exactly like the oracle.
@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 supplier-relationship analog: distinct suppliers per
# (brand, type, size) bucket over the derived partsupp, excluding one
# brand, one type, and complaint suppliers (negative account balance
# stands in for the comment scan) via LEFT ANTI join. count(DISTINCT)
# expands to a two-phase aggregate: dedup on the full key first, then
# count — both shuffles partial-combined.
@query(
    "tpch_q16_supplier_relationship",
    oracle=f"""
    WITH {_PS_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complaints = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    ps = _derived_partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    return (
        ps.join(complaints, ps.ps_suppkey == complaints.s_suppkey, "leftanti")
        .join(parts, ps.ps_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 small-quantity-revenue analog: revenue from Brand#3 small
# parts ordered below 20% of the part's average quantity. The
# correlated per-part AVG becomes a grouped aggregate joined back on
# l_partkey — broadcast at fixture stats; at scale both sides shuffle
# on the same key, so the join co-partitions with the aggregate. The
# average is decimal-exact (davg); the 0.2x threshold is one IEEE
# multiply per part.
@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
    WITH target AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_size < 10
    ),
    qavg AS (
        SELECT l_partkey, {oracle_davg('l_quantity', 2)} AS avg_qty
        FROM lineitem JOIN target ON p_partkey = l_partkey
        GROUP BY l_partkey
    )
    SELECT {oracle_dsum('l.l_extendedprice', 2)} / 7.0 AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN qavg ON qavg.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * avg_qty
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    targeted = li.join(target, li.l_partkey == target.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    qavg = targeted.groupBy("l_partkey").agg(
        davg("l_quantity", scale=2, alias="avg_qty")
    )
    return (
        targeted.join(qavg, "l_partkey")
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice", scale=2) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 part-promotion analog: EUROPE suppliers who moved serious
# volume (>40 units in 1996) of 'hot' parts. The nested INs become a
# chain of semi joins: parts prune lineitem, the per-(supplier, part)
# quantity aggregate filters on the threshold, and the surviving
# supplier keys semi-join the region-pruned supplier dim. No count or
# payload crosses the semi joins — just keys.
@query(
    "tpch_q20_part_promotion",
    oracle="""
    WITH hot_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'hot%'
    ),
    shipped AS (
        SELECT l_suppkey, l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN hot_parts ON p_partkey = l_partkey
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    )
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 40)
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    hot_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("hot%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    movers = (
        li.join(hot_parts, li.l_partkey == hot_parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(_region_nations(spark, sf_dir, "EUROPE")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return supp.join(
        movers, supp.s_suppkey == movers.l_suppkey, "leftsemi"
    ).select("s_name", "n_name")


# ---------------------------------------------------------------------------
# TPC-H Q21 waiting-suppliers analog: suppliers from one nation whose
# line was the ONLY late line (>60 days after order date) on a
# finished multi-supplier order. EXISTS -> LEFT SEMI join (another
# supplier has any line on the order), NOT EXISTS -> LEFT ANTI join
# (another supplier also late) — both equi-joins on l_orderkey with the
# supplier-inequality as residual condition (executed: broadcast-hash
# semi + sort-merge anti at fixture stats; at scale both degrade to
# co-partitioned sort-merge on the same key — never a cartesian).
# Top-20 on (numwait DESC, s_name) — s_name is unique, so the order is
# total.
@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      AND n_name = 'NATION_4'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    flagged = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late", late
    )
    l1 = flagged.where("is_late").select(
        F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("s1")
    )
    all_lines = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    late_lines = flagged.where("is_late").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    lone_late = (
        l1.join(
            all_lines,
            (F.col("k1") == F.col("k2")) & (F.col("s1") != F.col("s2")),
            "leftsemi",
        ).join(
            late_lines,
            (F.col("k1") == F.col("k3")) & (F.col("s1") != F.col("s3")),
            "leftanti",
        )
    )
    nation = _nations_named(spark, sf_dir).where(F.col("n_name") == "NATION_4")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        lone_late.join(supp, lone_late.s1 == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fulfillment latency distribution: days from order placement to first
# and last shipment, summarized per order priority — the SLA readout a
# warehouse team watches (does URGENT actually ship faster?). One
# equi-join on o_orderkey, a per-order min/max collapse keyed the same,
# then interpolated percentiles over exact integer day counts
# (midpoints are exact dyadic halves — the median_mode_by_status
# recipe) grouped by the bounded priority domain.
@query(
    "fulfillment_latency_stats",
    oracle="""
    WITH per_order AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(date_diff('day', o_orderdate, min(l_shipdate)) AS BIGINT)
                   AS first_ship_days,
               CAST(date_diff('day', o_orderdate, max(l_shipdate)) AS BIGINT)
                   AS last_ship_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderpriority, o_orderdate
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           quantile_cont(first_ship_days, 0.5) AS median_first_ship_days,
           quantile_cont(last_ship_days, 0.95) AS p95_last_ship_days,
           CAST(max(last_ship_days) AS BIGINT) AS max_last_ship_days
    FROM per_order GROUP BY o_orderpriority
    """,
)
def fulfillment_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    per_order = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("first_ship"), F.to_date("o_orderdate"))
            .cast("bigint")
            .alias("first_ship_days"),
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate"))
            .cast("bigint")
            .alias("last_ship_days"),
        )
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr("percentile(first_ship_days, 0.5)").alias(
            "median_first_ship_days"
        ),
        F.expr("percentile(last_ship_days, 0.95)").alias("p95_last_ship_days"),
        F.max("last_ship_days").alias("max_last_ship_days"),
    )
