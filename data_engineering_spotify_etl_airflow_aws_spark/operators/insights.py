"""Product-analytics / graph-insight operators: triangle counting +
clustering coefficients on the part co-occurrence graph, per-segment
revenue Gini concentration, KL divergence of per-source language mixes,
item-item co-occurrence recommendations, last-touch attribution,
activity-streak distribution, reciprocal-rank fusion of two part
rankings, and DAU/MAU stickiness.

These extend the warehouse surface past the reference's flat star-schema
aggregates (SURVEY.md 2a: GROUP BY + AVG/COUNT, top-k) toward the
session/graph/ranking analytics a product team runs on the same tables:
"which items cluster together?", "how concentrated is revenue?", "which
touchpoint drives purchases?", "how sticky is usage?".

Cross-engine determinism (driver value-hash): counts/degrees/supports
are exact integers; money is cents via round(x*100) (the
statistics.py convention) or micro-units via floor(x*1e6) (events
value); rank positions always carry an id tiebreaker; every emitted
double is either a single IEEE division of two exact integers
(bit-identical in Spark and DuckDB) or the proven round(ln(...), 6)
pattern from pmi_lang_source. Sums of doubles never cross rows - any
quantity that must be summed is integer before the sum.

Scale notes (100 TB) are per-operator; the common shape is fact-table
shuffles keyed on high-entropy ids (order, user, part) with all global
windows confined to bounded relations (segments, days, top-100 lists,
distinct-streak-lengths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import band_offsets, decile
from ..registry import query
from ..tables import load_table


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, ps): the sorted distinct part set of each order - one
    orderkey-keyed shuffle; basket size is bounded by lines-per-order
    (~4-7 in TPC-H shape at every SF), so the arrays stay tiny."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """Canonical (u < v) part pairs generated IN-GROUP from the sorted
    basket array (the market_basket_part_pairs pattern, extras.py) - no
    self-join of the items relation; pair fan-out per order is
    C(basket, 2), bounded by the basket size."""
    combos = F.explode(
        F.flatten(
            F.expr(
                "transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS u, y AS v)))"
            )
        )
    )
    return baskets.select(combos.alias("pair")).select(
        F.col("pair.u").alias("u"), F.col("pair.v").alias("v")
    )


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-occurrence graph: one (u < v) row per pair of parts
    some order contains both of (the Spark side of _PART_EDGES_SQL)."""
    return _basket_pairs(_order_baskets(spark, sf_dir)).distinct()


def _part_arcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both orientations (src, dst) of every _part_edges pair, persisted
    ALREADY hash-partitioned on src: loops that join on src each round
    (k-hop BFS, label propagation) reuse the cached partitioning instead
    of re-exchanging 2x|edges| rows."""
    und = _part_edges(spark, sf_dir)
    return caches.persist(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .repartition("src"),
    )


_ITEMS_SQL = "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"

_PART_EDGES_SQL = f"""
    {_ITEMS_SQL},
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
    )
"""

# both orientations of every edge as (src, dst): the oracle of _part_arcs
_PART_ARCS_SQL = f"""{_PART_EDGES_SQL},
    dedges AS (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v, u FROM edges
    )"""


def part_triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count, degree, and local clustering coefficient
    for an undirected graph given as canonical (u < v) edges.

    Spark plan (compact-forward / adjacency-intersection): orient every
    edge from its lower-(degree, id) endpoint to its higher one, so each
    triangle {x<y<z in rank order} is found exactly once at its edge
    x->y as a common out-neighbor z of x and y. Out-neighbor lists are
    one groupBy; each directed edge then picks up BOTH endpoint lists
    via two equi-joins and intersects them JVM-side (array_intersect) -
    the O(m^1.5) wedge set is never materialized through a shuffle
    (measured at sf0.1: 41M wedges -> 1.2M edge rows carrying <=97-
    element arrays; 11.5s join form -> ~3s this form). Degree
    orientation bounds every out-list by O(sqrt(m)), which bounds both
    the array sizes and the intersection work - the reason this
    survives skewed hub nodes. All shuffles key on node ids (high
    entropy); nothing O(nodes) is ever broadcast or collected.

    Per-node triangle counts fall out of the same rows: edge (x,y) with
    common out-neighbors Z credits |Z| to x, |Z| to y, and 1 to each
    z in Z (an explode bounded by 3x the global triangle count).

    The edge set feeds two plan branches (degrees, orientation join) and
    the directed set three (edge probe, adjacency x2), and Spark does
    NOT reuse those subtrees' exchanges here (AQE plans each branch
    independently), so both persist for the duration of the query -
    measured 7.2s -> 2.9s at sf0.1.
    """
    edges = caches.persist(edges)
    # deg (3 consumers: du, dv, output join) and adj (2 consumers) are
    # node-sized relations recomputed per consumer without a persist -
    # caching them trims three full agg re-executions of the cached
    # edge/directed relations.
    deg = caches.persist(
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree")),
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    # u < v already, so on a degree tie the lower id wins the tail slot.
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = caches.persist(
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        ),
    )
    adj = caches.persist(
        directed.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs")),
    )
    common = (
        directed.withColumnRenamed("src", "x")
        .withColumnRenamed("dst", "y")
        .join(adj.select(F.col("src").alias("x"), F.col("nbrs").alias("nx")), "x")
        .join(adj.select(F.col("src").alias("y"), F.col("nbrs").alias("ny")), "y")
        .select("x", "y", F.array_intersect("nx", "ny").alias("z"))
        .where(F.size("z") > 0)
    )
    # all three contribution kinds (x: |Z|, y: |Z|, each z: 1) emit from
    # ONE pass over the matched edges - a 3-way union would re-execute
    # the adjacency join per branch (exchange reuse dedups shuffles, not
    # join compute; measured 2x slower as a union).
    contrib = common.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("x").alias("node"), F.size("z").alias("c")),
                    F.struct(F.col("y").alias("node"), F.size("z").alias("c")),
                ),
                F.expr("transform(z, zi -> struct(zi AS node, 1 AS c))"),
            )
        ).alias("nc")
    ).select("nc.node", "nc.c")
    tcnt = contrib.groupBy("node").agg(F.sum("c").alias("n_tri"))
    clustering = F.when(
        F.col("degree") >= 2,
        (F.lit(2) * F.col("n_tri")).cast("double")
        / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
    )
    return (
        deg.join(tcnt, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0).cast("bigint")).alias("n_tri"),
            clustering.alias("clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting on the part co-occurrence graph (parts are adjacent
# when some order contains both): per-part triangle count, degree, and
# local clustering coefficient - the graph-density diagnostic behind
# "which products form cliques?". The oracle keeps the declarative
# 3-way edge self-join (fine for DuckDB at the audit SF); the Spark side
# runs the degree-oriented wedge join documented on part_triangle_stats.
# Outputs are set-defined integers plus one two-integer IEEE division.
#
# Scale notes (100 TB): edges build in-group from bounded baskets (no
# items self-join); orientation joins + wedge/closure joins all shuffle
# on part ids. Wedge volume is O(m^1.5) by orientation, not O(sum d^2).
@query(
    "triangle_count_parts",
    oracle=f"""
    WITH {_PART_EDGES_SQL},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    roles AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
             FROM roles GROUP BY node),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node
    )
    SELECT d.node AS part_key, d.degree,
           COALESCE(t.n_tri, 0) AS n_tri,
           CASE WHEN d.degree >= 2 THEN
               CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
                   / CAST(d.degree * (d.degree - 1) AS DOUBLE)
           END AS clustering
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    """,
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return part_triangle_stats(_part_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Revenue concentration per market segment: the Gini coefficient of
# per-customer total order value, via the rank formula
# G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) with x ascending.
# sum(i*x_i) is invariant under permutations of tied x, and the custkey
# tiebreaker pins the rank anyway; all moments are exact integers
# (cents, rank products in decimal(38,0)/HUGEINT), so the only float op
# is the final division. Customers with no orders are out of scope (the
# concentration of *observed* revenue).
#
# Scale notes (100 TB): one custkey shuffle for the totals, one
# broadcast-able dim join for the segment, then a window PARTITIONED BY
# segment - per-partition sort, no single-partition window. The rank
# window sorts the per-customer aggregate (dimension-sized, not
# fact-sized); its partition count is the segment count, so at extreme
# user counts the same formula runs on a salted sub-segment + merged
# moments - the formula is associative across contiguous rank blocks.
@query(
    "gini_customer_value",
    oracle="""
    WITH totals AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_mktsegment, t.cents,
               row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY t.cents, t.o_custkey
               ) AS rn
        FROM totals t JOIN customer c ON c.c_custkey = t.o_custkey
    ),
    m AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               sum(CAST(rn AS HUGEINT) * cents) AS s1
        FROM ranked GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n_customers, total_cents,
           round(CAST(CAST(2 * s1 - (n_customers + 1) * CAST(total_cents AS HUGEINT) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(CAST(n_customers AS HUGEINT)
                        * CAST(total_cents AS HUGEINT) AS VARCHAR) AS DOUBLE),
                 6) AS gini
    FROM m
    """,
)
def gini_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_custkey")
        # r12 fix (SCALING_r10 hit list): decimal accumulation + bigint
        # output cast, mirroring the oracle's HUGEINT-sum-then-BIGINT-cast
        # - a hot customer's cents total wraps raw bigint silently; the
        # output cast raises loudly instead (ANSI).
        .agg(F.sum(F.col("cents").cast("decimal(38,0)")).cast("bigint").alias("cents"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w = W.partitionBy("c_mktsegment").orderBy("cents", "o_custkey")
    ranked = totals.join(cust, "o_custkey").withColumn(
        "rn", F.row_number().over(w)
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        # r12 fix: the per-segment cents total is the hit-list crossing
        # (~3e18 at 1.5e11 orders, 3x headroom only) - accumulate in
        # decimal, cast the OUTPUT to bigint like the oracle does.
        F.sum(dec("cents")).cast("bigint").alias("total_cents"),
        F.sum(dec("rn") * F.col("cents")).alias("s1"),
    )
    num = F.lit(2) * F.col("s1") - (
        (F.col("n_customers") + F.lit(1)).cast("decimal(38,0)")
        * dec("total_cents")
    )
    den = dec("n_customers") * dec("total_cents")
    return m.select(
        "c_mktsegment",
        "n_customers",
        "total_cents",
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# KL divergence of each source's language mix from the corpus-wide mix,
# emitted PER CELL: term = p * ln(p/q) with p = n_sl/n_s and
# q = n_l/N, i.e. ln(n_sl*N / (n_s*n_l)) - the sampling-weight
# diagnostic next to pmi_lang_source (statistics.py), which proved the
# round(ln(...), 6) determinism pattern. A per-source KL *sum* would
# accumulate doubles in engine-dependent order, so the cells carry the
# terms and the (tiny) sum is the consumer's one fold.
#
# Scale notes (100 TB): three partial-agg combines into bounded
# relations (cells, sources, langs); the marginal joins broadcast.
@query(
    "kl_divergence_source_lang",
    oracle="""
    WITH cell AS (
        SELECT source, lang, count(*) AS n_sl
        FROM documents GROUP BY source, lang
    ),
    ms AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    ml AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
    tot AS (SELECT count(*) AS n FROM documents)
    SELECT cell.source, cell.lang,
           CAST(n_sl AS BIGINT) AS n_docs,
           CAST(n_sl AS DOUBLE) / CAST(n_s AS DOUBLE) AS p_in_source,
           round((CAST(n_sl AS DOUBLE) / CAST(n_s AS DOUBLE))
               * ln(CAST(n_sl AS DOUBLE) * n
                    / (CAST(n_s AS DOUBLE) * n_l)), 6) AS kl_term
    FROM cell
    JOIN ms USING (source)
    JOIN ml USING (lang)
    CROSS JOIN tot
    """,
)
def kl_divergence_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): 4 consumers re-scan the projection. At
    # fixture scale an unconditional persist LOST (r16 A/B min-of-3
    # 0.28s -> 0.38s: narrow scans ride idle cores); at corpus scale the
    # re-scans are pure added I/O, so the pruned 2-column projection
    # persists once the scan fills the cores.
    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    docs = caches.persist_when_scaled(docs, docs)
    cell = docs.groupBy("source", "lang").agg(F.count("*").alias("n_sl"))
    ms = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    ml = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = docs.agg(F.count("*").alias("n"))
    nsld = F.col("n_sl").cast("double")
    nsd = F.col("n_s").cast("double")
    p = nsld / nsd
    return (
        cell.join(F.broadcast(ms), "source")
        .join(F.broadcast(ml), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            F.col("n_sl").cast("bigint").alias("n_docs"),
            p.alias("p_in_source"),
            F.round(
                p * F.log(nsld * F.col("n") / (nsd * F.col("n_l"))), 6
            ).alias("kl_term"),
        )
    )


# ---------------------------------------------------------------------------
# Item-item recommendations: top-3 co-purchased parts per part, ranked
# by basket Jaccard = support / (n_a + n_b - support) over order
# baskets. Candidate pairs come from the in-group basket combination
# (no items self-join); the ranking key is one IEEE division of exact
# integers (bit-identical both engines) with the candidate id as the
# tiebreak, so row_number is deterministic.
#
# Scale notes (100 TB): support counts shuffle on the canonical pair
# key; the bidirectional expansion doubles rows but keeps the window
# PARTITIONED BY part (per-partition sort); the rk <= 3 rank filter gets
# Catalyst's WindowGroupLimit map-side prune.
@query(
    "item_item_recs",
    oracle=f"""
    WITH {_ITEMS_SQL},
    support AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(count(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    bidir AS (
        SELECT u AS part_key, v AS rec_key, support FROM support
        UNION ALL
        SELECT v, u, support FROM support
    ),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_ord
             FROM items GROUP BY 1),
    scored AS (
        SELECT b.part_key, b.rec_key, b.support,
               CAST(b.support AS DOUBLE)
                   / CAST(fa.n_ord + fb.n_ord - b.support AS DOUBLE)
                   AS jaccard
        FROM bidir b
        JOIN freq fa ON fa.l_partkey = b.part_key
        JOIN freq fb ON fb.l_partkey = b.rec_key
    )
    SELECT part_key, rec_key, support, jaccard, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY part_key ORDER BY jaccard DESC, rec_key
        ) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
)
def item_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # baskets feed both the pair build and the per-part frequency count;
    # persisting skips the second lineitem shuffle (the market_basket
    # basket-cache pattern, extras.py).
    baskets = caches.persist(_order_baskets(spark, sf_dir))
    # Scale-gated persist (r17): this support relation is the FULL
    # co-occurrence set (unlike assoc_rules_lift's >=2-filtered table),
    # and at fixture scale materializing it LOST (r16 A/B min-of-3
    # 4.08s -> 4.50s) versus re-running the pair explode from the
    # cached baskets. At corpus scale the second explode+agg is a full
    # extra pass over the largest intermediate, so the pair table
    # persists (disk-backed) once the scan fills the cores.
    support = (
        _basket_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
    )
    support = caches.persist_when_scaled(
        support, load_table(spark, sf_dir, "lineitem")
    )
    bidir = support.select(
        F.col("u").alias("part_key"), F.col("v").alias("rec_key"), "support"
    ).unionAll(
        support.select(
            F.col("v").alias("part_key"), F.col("u").alias("rec_key"), "support"
        )
    )
    freq = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_ord"))
    )
    fa = freq.select(F.col("l_partkey").alias("part_key"), F.col("n_ord").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("rec_key"), F.col("n_ord").alias("n_b"))
    scored = (
        bidir.join(fa, "part_key")
        .join(fb, "rec_key")
        .select(
            "part_key",
            "rec_key",
            "support",
            (
                F.col("support").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("support")).cast("double")
            ).alias("jaccard"),
        )
    )
    w = W.partitionBy("part_key").orderBy(F.desc("jaccard"), "rec_key")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("part_key", "rec_key", "support", "jaccard", "rk")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase event is credited to the nearest
# preceding non-purchase event type in the user's (ts, event_id)-ordered
# stream ('none' when the purchase opens the stream); output is
# conversions + attributed value per touch type. One user-partitioned
# window (last ... IGNORE NULLS over the preceding frame) computed
# BEFORE the purchase filter, then a 5-row collapse; value is summed in
# exact micro-units.
#
# Scale notes (100 TB): one user_id shuffle for the window, then a
# bounded-key partial agg. No state beyond the window frame.
@query(
    "last_touch_attribution",
    oracle="""
    WITH touched AS (
        SELECT event_type,
               CAST(floor(value * 1000000) AS BIGINT) AS u6,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch
        FROM events
    )
    SELECT COALESCE(touch, 'none') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(u6) AS BIGINT) AS attributed_value_u6
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("u6"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"))
        .agg(
            F.count("*").alias("n_conversions"),
            # decimal accumulator: micro-unit values over a corpus-scale
            # purchase set pass 2^63 long before the oracle's HUGEINT
            # does (r10 BIGINT-sum sweep); the bigint output cast then
            # saturates LOUDLY (null) instead of wrapping silently
            F.sum(F.col("u6").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("attributed_value_u6"),
        )
    )


# ---------------------------------------------------------------------------
# Activity-streak distribution: longest run of consecutive active days
# per user (gaps-and-islands: day minus per-user day rank is constant
# within a run), collapsed to the (streak_days, n_users) histogram -
# bounded by the calendar. Everything is integer date arithmetic.
#
# Scale notes (100 TB): distinct (user, day) then a user-partitioned
# window; the histogram collapse is a bounded-key agg. No global sort.
@query(
    "user_activity_streaks",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    seq AS (
        SELECT user_id,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS INTEGER) AS grp
        FROM act
    ),
    runs AS (SELECT user_id, CAST(count(*) AS BIGINT) AS len
             FROM seq GROUP BY user_id, grp),
    mx AS (SELECT user_id, max(len) AS max_streak FROM runs GROUP BY user_id)
    SELECT max_streak AS streak_days, CAST(count(*) AS BIGINT) AS n_users
    FROM mx GROUP BY 1
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    seq = act.select(
        "user_id", F.date_sub(F.col("day"), rn.cast("int")).alias("grp")
    )
    runs = seq.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    mx = runs.groupBy("user_id").agg(F.max("len").alias("streak_days"))
    return mx.groupBy("streak_days").agg(F.count("*").alias("n_users"))


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two part rankings - total shipped quantity
# and total discounted revenue - the standard list-fusion rule for
# combining retrieval scores: RRF(d) = sum_lists 1/(k + rank_d), k=60.
# Honest RRF operates on top-N LISTS, so each side is a top-100
# TakeOrderedAndProject (scalable; no global rank of the full part dim),
# ranked within the 100-row result; the fused top-20 is the output.
# Revenue quantizes by the tpch.py floor(x*1e6 + 0.5) rule; the RRF
# score is two IEEE divisions and one add, identically parenthesized.
#
# Scale notes (100 TB): one partkey shuffle for the per-part totals,
# reused by both rankings (the plan shares the agg subtree); each top-100
# is map-side TakeOrdered; ranking windows see 100 rows.
@query(
    "reciprocal_rank_fusion",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_u6
        FROM lineitem GROUP BY l_partkey
    ),
    topq AS (
        SELECT l_partkey, row_number() OVER (ORDER BY qty DESC, l_partkey)
                   AS r_qty
        FROM (SELECT l_partkey, qty FROM per_part
              ORDER BY qty DESC, l_partkey LIMIT 100)
    ),
    topr AS (
        SELECT l_partkey, row_number() OVER (ORDER BY rev_u6 DESC, l_partkey)
                   AS r_rev
        FROM (SELECT l_partkey, rev_u6 FROM per_part
              ORDER BY rev_u6 DESC, l_partkey LIMIT 100)
    ),
    fused AS (
        SELECT COALESCE(q.l_partkey, r.l_partkey) AS part_key,
               q.r_qty, r.r_rev,
               COALESCE(1.0 / (60 + q.r_qty), 0.0)
                   + COALESCE(1.0 / (60 + r.r_rev), 0.0) AS rrf_score
        FROM topq q FULL OUTER JOIN topr r ON q.l_partkey = r.l_partkey
    )
    SELECT part_key, r_qty, r_rev, rrf_score FROM fused
    ORDER BY rrf_score DESC, part_key LIMIT 20
    """,
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev_u6 = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 1_000_000
        + F.lit(0.5)
    ).cast("bigint")
    per_part = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.sum(rev_u6).alias("rev_u6"),
        )
    )
    topq = (
        per_part.select("l_partkey", "qty")
        .orderBy(F.desc("qty"), "l_partkey")
        .limit(100)
        .withColumn(
            "r_qty", F.row_number().over(W.orderBy(F.desc("qty"), "l_partkey"))
        )
        .select("l_partkey", "r_qty")
    )
    topr = (
        per_part.select("l_partkey", "rev_u6")
        .orderBy(F.desc("rev_u6"), "l_partkey")
        .limit(100)
        .withColumn(
            "r_rev",
            F.row_number().over(W.orderBy(F.desc("rev_u6"), "l_partkey")),
        )
        .select(F.col("l_partkey").alias("r_l_partkey"), "r_rev")
    )
    fused = topq.join(
        topr, topq.l_partkey == topr.r_l_partkey, "full_outer"
    ).select(
        F.coalesce(F.col("l_partkey"), F.col("r_l_partkey")).alias("part_key"),
        "r_qty",
        "r_rev",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_qty")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_rev")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "part_key").limit(20)


# ---------------------------------------------------------------------------
# DAU/MAU stickiness: distinct active users per day over distinct active
# users in the day's calendar month - the engagement ratio on every
# product dashboard. Exact distinct counts, one IEEE division; output is
# bounded by the calendar.
#
# Scale notes (100 TB): two distinct-aggregate shuffles over events
# ((day, user) then (month, user) - Spark plans each count_distinct as
# a two-stage partial de-dup); the day->month join is a bounded-to-
# bounded broadcast.
@query(
    "dau_mau_stickiness",
    oracle="""
    WITH dau AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1
    ),
    mau AS (
        SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT d.day, d.dau, m.mau,
           CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
    FROM dau d JOIN mau m ON m.month = date_trunc('month', d.day)
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    dau = ev.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    mau = ev.groupBy(F.trunc("day", "month").alias("month")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    return (
        dau.join(
            F.broadcast(mau), F.trunc("day", "month") == F.col("month")
        )
        .select(
            "day",
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Rank-sum (Mann-Whitney) ROC AUC: how well the per-user click count
# predicts conversion (>= 15 purchases, the ab_conversion_ztest rule, so
# both classes are populated at every SF). The AUC is computed EXACTLY,
# ties included, without ranking individual users: collapse to the
# (score -> n, n_pos) histogram, take tie-averaged ranks as the INTEGER
# rank2 = 2*cum_prev + n + 1 (twice the average rank), and
# AUC = (sum_pos rank2 - n_pos*(n_pos+1)) / (2*n_pos*n_neg) - integer
# numerator and denominator, one IEEE division.
#
# Scale notes (100 TB): one user_id shuffle for the per-user rollup;
# the histogram (distinct click-count VALUES) is bounded, so the rank
# window runs on dozens of rows at any scale - the skew_profile_orders
# collapse applied to AUC.
@query(
    "auc_click_propensity",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS score,
               CASE WHEN count(*) FILTER (event_type = 'purchase') >= 15
                    THEN 1 ELSE 0 END AS label
        FROM events GROUP BY user_id
    ),
    hist AS (
        SELECT score, count(*) AS n, sum(label) AS n_pos
        FROM per_user GROUP BY score
    ),
    cum AS (
        SELECT score, n, n_pos,
               coalesce(sum(n) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev
        FROM hist
    ),
    m AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(n - n_pos) AS BIGINT) AS n_neg,
               CAST(sum(CAST(n_pos AS HUGEINT) * (2 * cum_prev + n + 1))
                    AS BIGINT) AS pos_rank2
        FROM cum
    )
    SELECT n_pos, n_neg,
           round(CAST(pos_rank2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
    FROM m
    """,
)
def auc_click_propensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("score"),
            F.when(
                F.count(F.when(F.col("event_type") == "purchase", 1)) >= 15, 1
            )
            .otherwise(0)
            .alias("label"),
        )
    )
    hist = per_user.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").alias("n_pos")
    )
    wprev = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "n",
        "n_pos",
        F.coalesce(F.sum("n").over(wprev), F.lit(0)).alias("cum_prev"),
    )
    m = cum.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("n_pos").cast("decimal(38,0)")
            * (F.lit(2) * F.col("cum_prev") + F.col("n") + F.lit(1))
        )
        .cast("bigint")
        .alias("pos_rank2"),
    )
    auc = (
        F.col("pos_rank2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
    ).cast("double") / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
    return m.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))


# ---------------------------------------------------------------------------
# Linear multi-touch attribution - the sibling of last_touch_attribution
# that splits each purchase's credit EQUALLY across all preceding touch
# events (1/k each). Per-type preceding counts come from four aggregate
# functions over ONE user-partitioned window frame; each conversion's
# per-type credit quantizes to micro-units by INTEGER division
# (cnt_t * 1e6 div k), so the cross-conversion sums are exact bigints
# (floating credit fractions would sum in engine-dependent order). The
# four credit columns unpivot in-row (no extra pass).
#
# Scale notes (100 TB): one user_id shuffle for the window, then a
# 4-key partial agg. Same shape as last_touch_attribution.
@query(
    "multi_touch_attribution",
    oracle="""
    WITH counted AS (
        SELECT event_type,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w
                   AS c_view,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w
                   AS c_click,
               sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER w
                   AS c_signup,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w
                   AS c_error
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conv AS (
        SELECT coalesce(c_view, 0) AS c_view,
               coalesce(c_click, 0) AS c_click,
               coalesce(c_signup, 0) AS c_signup,
               coalesce(c_error, 0) AS c_error,
               coalesce(c_view, 0) + coalesce(c_click, 0)
                   + coalesce(c_signup, 0) + coalesce(c_error, 0) AS k
        FROM counted WHERE event_type = 'purchase'
    ),
    credits AS (
        SELECT t.touch_type,
               CASE t.touch_type
                   WHEN 'view' THEN c_view WHEN 'click' THEN c_click
                   WHEN 'signup' THEN c_signup ELSE c_error
               END AS cnt, k
        FROM conv
        CROSS JOIN (SELECT unnest(['view', 'click', 'signup', 'error'])
                    AS touch_type) t
    )
    SELECT touch_type,
           CAST(count(*) FILTER (cnt > 0) AS BIGINT) AS n_conversions_touched,
           CAST(sum(CASE WHEN k > 0 THEN cnt * 1000000 // k ELSE 0 END)
                AS BIGINT) AS credit_u6
    FROM credits GROUP BY touch_type
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touches = ("view", "click", "signup", "error")
    counted = ev.select(
        "event_type",
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).over(w),
                F.lit(0),
            ).alias(f"c_{t}")
            for t in touches
        ],
    )
    conv = counted.where(F.col("event_type") == "purchase").withColumn(
        "k", sum(F.col(f"c_{t}") for t in touches)
    )
    credits = conv.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("touch_type"),
                        F.col(f"c_{t}").alias("cnt"),
                    )
                    for t in touches
                ]
            )
        ).alias("tc"),
        "k",
    ).select("tc.touch_type", "tc.cnt", "k")
    return credits.groupBy("touch_type").agg(
        F.count(F.when(F.col("cnt") > 0, 1)).alias("n_conversions_touched"),
        # decimal accumulator (r10 BIGINT-sum sweep): <=1e6 credit per
        # conversion x corpus-scale conversions leaves <40x headroom in
        # a raw BIGINT accumulator at the design point
        F.sum(
            F.when(
                F.col("k") > 0,
                F.expr("cnt * 1000000L div k"),
            )
            .otherwise(F.lit(0))
            .cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("credit_u6"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration of supplier revenue within each
# nation - "is this market served by one supplier or many?". HHI =
# sum(share_i^2) computed as sum(rev_i^2)/total^2 with the squares in
# decimal(38,0)/HUGEINT (micro-unit revenue squares overflow int64), so
# the only float ops are the final casts and one division.
#
# Scale notes (100 TB): one l_suppkey shuffle for per-supplier revenue,
# a broadcast-able supplier-dim join, then a nation-keyed agg over the
# supplier-sized relation. No windows at all.
@query(
    "hhi_supplier_concentration",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_u6
        FROM lineitem GROUP BY l_suppkey
    ),
    by_nation AS (
        SELECT s.s_nationkey, r.rev_u6
        FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    ),
    m AS (
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(rev_u6) AS BIGINT) AS total_rev_u6,
               sum(CAST(rev_u6 AS HUGEINT) * rev_u6) AS sum_sq
        FROM by_nation GROUP BY s_nationkey
    )
    SELECT s_nationkey, n_suppliers, total_rev_u6,
           round(CAST(CAST(sum_sq AS VARCHAR) AS DOUBLE)
                 / (CAST(total_rev_u6 AS DOUBLE)
                    * CAST(total_rev_u6 AS DOUBLE)), 6) AS hhi
    FROM m
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev_u6 = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 1_000_000
        + F.lit(0.5)
    ).cast("bigint")
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(rev_u6).alias("rev_u6"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    m = (
        # no broadcast hint: supplier grows with the data (1e9 rows at
        # sf100k) - AQE broadcasts at fixture scale, shuffles at 100 TB
        rev.join(supp, "l_suppkey")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            # decimal accumulator (r10 BIGINT-sum sweep): a nation's
            # micro-unit revenue total crosses 2^63 at ~1e5 suppliers
            F.sum(F.col("rev_u6").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("total_rev_u6"),
            F.sum(
                F.col("rev_u6").cast("decimal(38,0)") * F.col("rev_u6")
            ).alias("sum_sq"),
        )
    )
    total_d = F.col("total_rev_u6").cast("double")
    return m.select(
        "s_nationkey",
        "n_suppliers",
        "total_rev_u6",
        F.round(F.col("sum_sq").cast("double") / (total_d * total_d), 6).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# Trending parts: recency-decayed demand score with an EXACT decay rule -
# weight halves per week of age (weight_u6 = 1e6 div 2^(age_div_7),
# zero past 30 halvings), so every weight is an integer and the score
# sum is a bigint; no exp()/pow() float divergence risk. Age anchors on
# the data-relative max ship date (broadcast 1-row scalar, the
# recent_topk pattern) - the reference's CURRENT_DATE is the degenerate
# anchor of the same plan.
#
# Scale notes (100 TB): stats-only max() scan + one l_partkey shuffle;
# the top-20 is map-side TakeOrderedAndProject.
@query(
    "trending_parts_decayed",
    oracle="""
    WITH anchor AS (SELECT max(l_shipdate) AS maxd FROM lineitem),
    weighted AS (
        SELECT l_partkey,
               1000000 // (1 << least(
                   date_diff('day', l_shipdate, maxd) // 7, 30)) AS w_u6
        FROM lineitem CROSS JOIN anchor
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(w_u6) AS BIGINT) AS trend_score_u6
    FROM weighted GROUP BY l_partkey
    ORDER BY trend_score_u6 DESC, l_partkey LIMIT 20
    """,
)
def trending_parts_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    anchor = li.agg(F.max("l_shipdate").alias("maxd"))
    w_u6 = F.expr(
        "1000000L div shiftleft(1L, least(datediff(maxd, l_shipdate) div 7, 30))"
    )
    return (
        li.join(F.broadcast(anchor))
        .select("l_partkey", w_u6.alias("w_u6"))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum("w_u6").alias("trend_score_u6"),
        )
        .orderBy(F.desc("trend_score_u6"), "l_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-to-convert funnel timing: hours from each user's FIRST view to
# their first purchase AFTER that view, as an (hours, n_users)
# histogram - the latency distribution behind "how long does the funnel
# take?". Bounded output (calendar hours); all arithmetic is exact
# integer micros.
#
# Scale notes (100 TB): two user_id-keyed partial aggs (first view,
# first qualifying purchase) joined on user_id - co-partitioned, no
# extra exchange - then a bounded-key histogram agg.
@query(
    "time_to_convert_hours",
    oracle="""
    WITH first_view AS (
        SELECT user_id, min(epoch_us(ts)) AS tv
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    first_purchase AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS tp
        FROM events e JOIN first_view v ON v.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.tv
        GROUP BY e.user_id
    )
    SELECT CAST((p.tp - v.tv) // 3600000000 AS BIGINT) AS hours_to_convert,
           CAST(count(*) AS BIGINT) AS n_users
    FROM first_view v JOIN first_purchase p ON p.user_id = v.user_id
    GROUP BY 1
    """,
)
def time_to_convert_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    first_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("tv"))
    )
    first_purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .where(F.col("us") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("us").alias("tp"), F.first("tv").alias("tv"))
    )
    return (
        first_purchase.select(
            F.expr("(tp - tv) div 3600000000L").alias("hours_to_convert")
        )
        .groupBy("hours_to_convert")
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Calibration (reliability) curve for the click-propensity score graded
# by auc_click_propensity: users bucketed into score deciles, conversion
# rate per bucket. Decile assignment is HISTOGRAM-based, not a global
# ntile: each distinct score's bucket is floor(cum_prev * 10 / n_users)
# (the bucket of its first member in score order), so the window runs on
# the bounded score histogram and tied scores land in one bucket
# together - deterministic and scale-safe where a users-wide ntile
# window is not. Buckets are therefore slightly uneven around heavy
# ties by construction (documented trade-off).
#
# Scale notes (100 TB): one user_id shuffle, then the score histogram
# (bounded distinct values) carries the window and the bucket agg.
@query(
    "calibration_curve_clicks",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS score,
               CASE WHEN count(*) FILTER (event_type = 'purchase') >= 15
                    THEN 1 ELSE 0 END AS label
        FROM events GROUP BY user_id
    ),
    hist AS (
        SELECT score, count(*) AS n, sum(label) AS n_pos
        FROM per_user GROUP BY score
    ),
    cum AS (
        SELECT score, n, n_pos,
               coalesce(sum(n) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev,
               sum(n) OVER () AS n_total
        FROM hist
    )
    SELECT CAST(cum_prev * 10 // n_total AS BIGINT) AS score_decile,
           CAST(sum(n) AS BIGINT) AS n_users,
           CAST(sum(n_pos) AS BIGINT) AS n_converted,
           CAST(CAST(sum(n_pos) AS VARCHAR) AS DOUBLE) / sum(n) AS conv_rate,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score
    FROM cum GROUP BY 1
    """,
)
def calibration_curve_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("score"),
            F.when(
                F.count(F.when(F.col("event_type") == "purchase", 1)) >= 15, 1
            )
            .otherwise(0)
            .alias("label"),
        )
    )
    hist = per_user.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").alias("n_pos")
    )
    wprev = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    wall = W.orderBy("score").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "score",
        "n",
        "n_pos",
        F.coalesce(F.sum("n").over(wprev), F.lit(0)).alias("cum_prev"),
        F.sum("n").over(wall).alias("n_total"),
    )
    return (
        cum.groupBy(
            F.expr("cum_prev * 10 div n_total").alias("score_decile")
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_users"),
            F.sum("n_pos").cast("bigint").alias("n_converted"),
            (
                F.sum("n_pos").cast("double") / F.sum("n")
            ).alias("conv_rate"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
    )


# ---------------------------------------------------------------------------
# New vs returning users per day - the growth dashboard's core split. A
# user is "new" on their first active day (min day over the stream) and
# "returning" on later active days. Two co-keyed aggregates; all counts
# exact integers, bounded output (calendar days).
#
# Scale notes (100 TB): distinct (user, day) then a user_id-keyed min;
# the day-level rollups are bounded-key partial aggs. The first-day
# relation joins back on user_id - co-partitioned with the distinct.
@query(
    "new_vs_returning_daily",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    fd AS (SELECT user_id, min(day) AS first_day FROM act GROUP BY user_id)
    SELECT a.day,
           CAST(count(*) FILTER (a.day = f.first_day) AS BIGINT) AS new_users,
           CAST(count(*) FILTER (a.day > f.first_day) AS BIGINT)
               AS returning_users
    FROM act a JOIN fd f ON f.user_id = a.user_id
    GROUP BY a.day
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    fd = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        act.join(fd, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias(
                "new_users"
            ),
            F.count(F.when(F.col("day") > F.col("first_day"), 1)).alias(
                "returning_users"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Repeat-purchase cadence: the distribution of day gaps between a
# user's consecutive purchases - "how often do buyers come back?". One
# user-partitioned lag window over purchase events, then a bounded
# histogram (gap days <= calendar span). Exact date arithmetic.
#
# Scale notes (100 TB): purchases filter pushes to the scan; one
# user_id shuffle for the lag; bounded-key agg.
@query(
    "repeat_purchase_gap_days",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(CAST(ts AS DATE) - CAST(prev_ts AS DATE) AS BIGINT)
               AS gap_days,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM p WHERE prev_ts IS NOT NULL
    GROUP BY 1
    """,
)
def repeat_purchase_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = p.withColumn("prev_ts", F.lag("ts").over(w)).where(
        F.col("prev_ts").isNotNull()
    )
    return (
        gaps.select(
            F.datediff(F.to_date("ts"), F.to_date("prev_ts"))
            .cast("bigint")
            .alias("gap_days")
        )
        .groupBy("gap_days")
        .agg(F.count("*").alias("n_gaps"))
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification of parts by revenue within each brand:
# class A = parts covering the first 80% of brand revenue, B = to 95%,
# C = the tail - the inventory-policy classifier. Ranked windows are
# PARTITIONED BY brand (bounded partition count); class boundaries
# compare exact integer cumulative micro-revenue by cross-multiplication
# (cum*100 <= 80*total), so no float ever decides a class.
#
# Scale notes (100 TB): one l_partkey shuffle for per-part revenue, a
# broadcast part-dim join for the brand, then per-brand windows over
# the part aggregate (dimension-sized, partition-parallel).
@query(
    "abc_classification_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_u6
        FROM lineitem GROUP BY l_partkey
    ),
    branded AS (
        SELECT p.p_brand, r.rev_u6,
               sum(r.rev_u6) OVER (PARTITION BY p.p_brand) AS total,
               sum(r.rev_u6) OVER (
                   PARTITION BY p.p_brand
                   ORDER BY r.rev_u6 DESC, r.l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM rev r JOIN part p ON p.p_partkey = r.l_partkey
    ),
    classed AS (
        SELECT p_brand, rev_u6,
               CASE WHEN CAST(cum AS HUGEINT) * 100
                         <= CAST(total AS HUGEINT) * 80 THEN 'A'
                    WHEN CAST(cum AS HUGEINT) * 100
                         <= CAST(total AS HUGEINT) * 95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM branded
    )
    SELECT p_brand, abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_u6) AS BIGINT) AS class_rev_u6
    FROM classed GROUP BY p_brand, abc_class
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev_u6 = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 1_000_000
        + F.lit(0.5)
    ).cast("bigint")
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(rev_u6).alias("rev_u6"))
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    wtot = W.partitionBy("p_brand")
    wcum = (
        W.partitionBy("p_brand")
        .orderBy(F.desc("rev_u6"), "l_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # no broadcast hint: part grows with the data (2e10 rows at
    # sf100k) - AQE broadcasts at fixture scale, shuffles at 100 TB
    branded = rev.join(part, "l_partkey").select(
        "p_brand",
        "rev_u6",
        "l_partkey",
        # decimal window accumulators (r10 BIGINT-sum sweep): the
        # brand total / running total are corpus-scale micro-unit sums
        F.sum(F.col("rev_u6").cast("decimal(38,0)")).over(wtot).alias("total"),
        F.sum(F.col("rev_u6").cast("decimal(38,0)")).over(wcum).alias("cum"),
    )
    cum_d = F.col("cum").cast("decimal(38,0)")
    tot_d = F.col("total").cast("decimal(38,0)")
    abc = (
        F.when(cum_d * 100 <= tot_d * 80, "A")
        .when(cum_d * 100 <= tot_d * 95, "B")
        .otherwise("C")
    )
    return (
        branded.select("p_brand", "rev_u6", abc.alias("abc_class"))
        .groupBy("p_brand", "abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.col("rev_u6").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("class_rev_u6"),
        )
    )


# ---------------------------------------------------------------------------
# Share-of-parent rollup: revenue by region -> nation with each nation's
# share of its region (and each region's share of the total) - the
# drill-down percentage every BI rollup shows next to the absolute. The
# hierarchy relations are bounded (5 regions, 25 nations), so the
# share windows run on the bounded rollup result; shares are single
# IEEE divisions of exact integer revenue.
#
# Scale notes (100 TB): one suppkey-keyed revenue agg, broadcast dim
# joins (supplier -> nation -> region), nation-level partial agg, then
# windows over <= 25 rows.
@query(
    "rollup_share_of_parent",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_u6
        FROM lineitem GROUP BY l_suppkey
    ),
    by_nation AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(sum(v.rev_u6) AS BIGINT) AS rev_u6
        FROM rev v
        JOIN supplier s ON s.s_suppkey = v.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation, rev_u6,
           CAST(rev_u6 AS DOUBLE)
               / CAST(CAST(sum(rev_u6) OVER (PARTITION BY region) AS VARCHAR) AS DOUBLE)
               AS share_of_region,
           CAST(CAST(sum(rev_u6) OVER (PARTITION BY region) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sum(rev_u6) OVER () AS VARCHAR) AS DOUBLE) AS region_share_of_total
    FROM by_nation
    """,
)
def rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev_u6 = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 1_000_000
        + F.lit(0.5)
    ).cast("bigint")
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(rev_u6).alias("rev_u6"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("nation"),
        "n_regionkey",
    )
    reg = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"),
        F.col("r_name").alias("region"),
    )
    by_nation = (
        # no broadcast hint on supplier (grows with the data); the
        # nation/region dims below stay hinted - genuinely bounded
        rev.join(supp, "l_suppkey")
        .join(F.broadcast(nat), "s_nationkey")
        .join(F.broadcast(reg), "n_regionkey")
        .groupBy("region", "nation")
        # decimal accumulator (r10 BIGINT-sum sweep): nation-level
        # micro-unit revenue is a corpus-scale sum; the bigint output
        # cast saturates loudly instead of wrapping silently
        .agg(
            F.sum(F.col("rev_u6").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("rev_u6")
        )
    )
    wreg = W.partitionBy("region")
    wall = W.partitionBy()
    rev_dec = F.col("rev_u6").cast("decimal(38,0)")
    return by_nation.select(
        "region",
        "nation",
        "rev_u6",
        (
            F.col("rev_u6").cast("double")
            / F.sum(rev_dec).over(wreg).cast("double")
        ).alias("share_of_region"),
        (
            F.sum(rev_dec).over(wreg).cast("double")
            / F.sum(rev_dec).over(wall).cast("double")
        ).alias("region_share_of_total"),
    )


# ---------------------------------------------------------------------------
# Cumulative reach curve: distinct users ever seen up to each day - the
# campaign-reach number. New-user counts per day (first-active-day agg)
# then ONE running sum over the calendar-bounded day series; no
# per-day distinct rescan (the naive day <= d self-join is quadratic).
#
# Scale notes (100 TB): distinct (user, day) + user-keyed min - both
# fact-scale shuffles on high-entropy keys; the cumulative window runs
# on #days rows.
@query(
    "cumulative_reach_daily",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    fd AS (SELECT user_id, min(day) AS first_day FROM act GROUP BY user_id),
    newd AS (SELECT first_day AS day, count(*) AS new_users
             FROM fd GROUP BY first_day)
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_reach
    FROM newd
    """,
)
def cumulative_reach_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    fd = act.groupBy("user_id").agg(F.min("day").alias("day"))
    newd = fd.groupBy("day").agg(F.count("*").alias("new_users"))
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return newd.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(wcum).cast("bigint").alias("cumulative_reach"),
    )


# ---------------------------------------------------------------------------
# Order backlog over time: per day, how many orders are placed but not
# yet fully shipped - the ops-dashboard number behind "are we falling
# behind?". Interval counting WITHOUT a day x order cross join: each
# order contributes +1 at o_orderdate and -1 at its last ship date, and
# one running sum over the (bounded, calendar-sized) delta series yields
# the open count for every day. Same-day-shipped orders net to zero by
# construction. Scope: orders WITH at least one lineitem (a no-lineitem
# order has no ship date, hence no lifecycle to track - the inner join
# is the scope rule, mirrored in the oracle).
#
# Scale notes (100 TB): one orderkey agg for the last-ship date, one
# co-keyed join with orders, a (day, kind) partial agg, then a window
# over #days rows. The naive "count orders open on each day" self-join
# is O(days x orders); this is O(orders + days).
@query(
    "order_backlog_daily",
    oracle="""
    WITH spans AS (
        SELECT o.o_orderdate AS start_day,
               CAST(max(l.l_shipdate) AS DATE) AS end_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT CAST(start_day AS DATE) AS day, count(*) AS opened,
               0 AS closed
        FROM spans GROUP BY 1
        UNION ALL
        SELECT end_day, 0, count(*) FROM spans GROUP BY 1
    ),
    byday AS (
        SELECT day, CAST(sum(opened) AS BIGINT) AS opened,
               CAST(sum(closed) AS BIGINT) AS closed
        FROM deltas GROUP BY day
    )
    SELECT day, opened, closed,
           CAST(sum(opened - closed) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_backlog
    FROM byday
    """,
)
def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    last_ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("end_day"))
    )
    spans = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.to_date("o_orderdate").alias("start_day"),
        )
        .join(last_ship, "l_orderkey")
    )
    deltas = (
        spans.groupBy(F.col("start_day").alias("day"))
        .agg(F.count("*").alias("opened"), F.lit(0).alias("closed"))
        .unionByName(
            spans.groupBy(F.col("end_day").alias("day")).agg(
                F.lit(0).alias("opened"), F.count("*").alias("closed")
            )
        )
    )
    byday = deltas.groupBy("day").agg(
        F.sum("opened").cast("bigint").alias("opened"),
        F.sum("closed").cast("bigint").alias("closed"),
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return byday.select(
        "day",
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed"))
        .over(wcum)
        .cast("bigint")
        .alias("open_backlog"),
    )


# ---------------------------------------------------------------------------
# Retention-by-age curve (the Kaplan-Meier shape): at each day-offset k
# from a user's first activity, the share still active - with the
# CENSORING correction real survival curves need: the denominator at
# offset k is only the users whose first day is early enough to have
# REACHED age k inside the observation window (first_day <= max_day - k),
# not the whole population. Both counts are exact; one division per row.
#
# Scale notes (100 TB): distinct (user, day) + first-day agg (user-keyed,
# co-partitioned); active-at-k is a bounded-key agg; the at-risk counts
# come from a first-day histogram (calendar-bounded) via one running sum
# - no per-k rescan of users.
@query(
    "retention_by_age",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    fd AS (SELECT user_id, min(day) AS first_day FROM act GROUP BY user_id),
    maxd AS (SELECT max(day) AS max_day FROM act),
    active AS (
        SELECT a.day - f.first_day AS age_days,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
        FROM act a JOIN fd f ON f.user_id = a.user_id
        GROUP BY 1
    ),
    fhist AS (SELECT first_day, count(*) AS n FROM fd GROUP BY first_day),
    at_risk AS (
        SELECT CAST(max_day - first_day AS BIGINT) AS max_age,
               CAST(sum(n) AS BIGINT) AS n
        FROM fhist CROSS JOIN maxd GROUP BY 1
    ),
    risk_cum AS (
        SELECT max_age,
               CAST(sum(n) OVER (ORDER BY max_age DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS at_risk_users
        FROM at_risk
    )
    SELECT a.age_days, a.active_users, r.at_risk_users,
           CAST(a.active_users AS DOUBLE) / r.at_risk_users AS retention
    FROM active a
    JOIN risk_cum r ON r.max_age = (
        SELECT min(max_age) FROM risk_cum WHERE max_age >= a.age_days
    )
    """,
)
def retention_by_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    fd = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    maxd = act.agg(F.max("day").alias("max_day"))
    active = (
        act.join(fd, "user_id")
        .groupBy(F.datediff("day", "first_day").alias("age_days"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )
    fhist = fd.groupBy("first_day").agg(F.count("*").alias("n"))
    at_risk = (
        fhist.join(F.broadcast(maxd))
        .groupBy(F.datediff("max_day", "first_day").alias("max_age"))
        .agg(F.sum("n").alias("n"))
    )
    wdesc = W.orderBy(F.desc("max_age")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk_cum = at_risk.select(
        "max_age",
        F.sum("n").over(wdesc).cast("bigint").alias("at_risk_users"),
    )
    # at-risk population for age k = users with max_age >= k: align each
    # age to the smallest max_age at or above it (ages and max_ages both
    # live on the same bounded day grid, so this is a bounded-side join)
    aligned = active.join(
        F.broadcast(risk_cum), F.col("max_age") >= F.col("age_days")
    )
    w = W.partitionBy("age_days").orderBy("max_age")
    return (
        aligned.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("age_days").cast("bigint").alias("age_days"),
            "active_users",
            "at_risk_users",
            (
                F.col("active_users").cast("double")
                / F.col("at_risk_users").cast("double")
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# Daily growth accounting (the GRR / "growth accounting" decomposition):
# every active (user, day) is classified as new (first-ever day),
# retained (also active the previous calendar day) or resurrected
# (returning after a gap), and a churn event is booked on day+1 for
# every user whose activity lapses - new_vs_returning_daily's coarse
# split upgraded to the full four-state ledger growth teams reconcile
# DAU movement with (new + retained + resurrected - churned).
#
# Both output branches (active-day states, churn emissions) project the
# SAME lag/lead window relation, so the user_id shuffle is planned once
# (exchange reuse); churn days are clamped to the observed horizon via a
# broadcast 1-row max-day scalar (the F2 cutoff pattern). All counts are
# exact integers on a calendar-bounded key.
#
# Scale notes (100 TB): distinct (user, day) then one user_id-keyed
# window; the day-level rollup is a bounded-key agg with map-side
# partials. Nothing grows with the user population except the windowed
# relation itself, which shuffles on the high-entropy user key.
@query(
    "growth_accounting_daily",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    seq AS (
        SELECT user_id, day,
               lag(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
        FROM act
    ),
    maxd AS (SELECT max(day) AS max_day FROM act),
    states AS (
        SELECT day,
               CASE WHEN prev_day IS NULL THEN 'new'
                    WHEN day - prev_day = 1 THEN 'retained'
                    ELSE 'resurrected' END AS state
        FROM seq
        UNION ALL
        SELECT day + 1 AS day, 'churned' AS state
        FROM seq CROSS JOIN maxd
        WHERE (next_day IS NULL OR next_day - day > 1) AND day + 1 <= max_day
    )
    SELECT day,
           CAST(count(*) FILTER (state = 'new') AS BIGINT) AS n_new,
           CAST(count(*) FILTER (state = 'retained') AS BIGINT) AS n_retained,
           CAST(count(*) FILTER (state = 'resurrected') AS BIGINT)
               AS n_resurrected,
           CAST(count(*) FILTER (state = 'churned') AS BIGINT) AS n_churned
    FROM states GROUP BY day
    """,
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persists (r17): `seq` feeds the state classifier and
    # the churn branch, and `act` additionally feeds the max-day agg -
    # 3 events scan+distinct runs per plan. No-ops at fixture scale
    # (the r16 cheap-subtree lesson); at corpus scale the re-runs are
    # full extra passes, so both (user, day)-bounded relations persist
    # once the scan fills the cores.
    ev_scan = load_table(spark, sf_dir, "events")
    act = (
        ev_scan
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    act = caches.persist_when_scaled(act, ev_scan)
    w = W.partitionBy("user_id").orderBy("day")
    seq = act.select(
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    seq = caches.persist_when_scaled(seq, ev_scan)
    maxd = act.agg(F.max("day").alias("max_day"))
    active_states = seq.select(
        "day",
        F.when(F.col("prev_day").isNull(), "new")
        .when(F.datediff("day", "prev_day") == 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    churn = (
        seq.join(F.broadcast(maxd))
        .where(
            F.col("next_day").isNull()
            | (F.datediff("next_day", "day") > 1)
        )
        .where(F.date_add("day", 1) <= F.col("max_day"))
        .select(F.date_add("day", 1).alias("day"), F.lit("churned").alias("state"))
    )
    cnt = lambda s: F.count(F.when(F.col("state") == s, 1))  # noqa: E731
    return (
        active_states.unionByName(churn)
        .groupBy("day")
        .agg(
            cnt("new").alias("n_new"),
            cnt("retained").alias("n_retained"),
            cnt("resurrected").alias("n_resurrected"),
            cnt("churned").alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# Association rules with confidence and lift: the market-basket pair
# support (item_item_recs' candidate base) upgraded to directed rules
# a=>c scored by confidence = support/n_a and lift =
# support*N / (n_a*n_c) - the "customers who bought X also bought Y"
# primitive with the independence-baseline correction. Rules with
# support < 2 are noise at every SF and are cut before ranking; top-50
# rides the (lift DESC, antecedent, consequent) total order.
#
# Determinism: support/n_a/n_c/N are exact integers; confidence is one
# IEEE division and lift one division of two exact bigint products
# (support*N <= 1e14 at any plausible basket count - no overflow).
#
# Scale notes (100 TB): pairs generate in-group from bounded baskets
# (no items self-join), support shuffles on the canonical pair key, the
# per-part frequency joins are part-keyed shuffles, and the basket
# count N rides a broadcast 1-row scalar. Top-50 is
# TakeOrderedAndProject - per-partition heaps, no global sort.
@query(
    "assoc_rules_lift",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
           FROM items),
    support AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(count(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_ord
             FROM items GROUP BY 1),
    rules AS (
        SELECT u AS antecedent, v AS consequent, support FROM support
        UNION ALL
        SELECT v, u, support FROM support
    )
    SELECT r.antecedent, r.consequent, r.support,
           fa.n_ord AS n_antecedent, fc.n_ord AS n_consequent,
           CAST(r.support AS DOUBLE) / CAST(fa.n_ord AS DOUBLE) AS confidence,
           CAST(r.support * nb.n_baskets AS DOUBLE)
               / CAST(fa.n_ord * fc.n_ord AS DOUBLE) AS lift
    FROM rules r
    JOIN freq fa ON fa.l_partkey = r.antecedent
    JOIN freq fc ON fc.l_partkey = r.consequent
    CROSS JOIN nb
    WHERE r.support >= 2
    ORDER BY lift DESC, r.antecedent, r.consequent
    LIMIT 50
    """,
)
def assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = caches.persist(_order_baskets(spark, sf_dir))
    nb = baskets.agg(F.count("*").cast("bigint").alias("n_baskets"))
    # the bidirectional rules union references `support` twice - persist
    # so the pair explode + groupBy runs once (r16; guide §5)
    support = caches.persist(
        _basket_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2),
    )
    rules = support.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "support"
    ).unionAll(
        support.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "support"
        )
    )
    freq = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_ord"))
    )
    fa = freq.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_ord").alias("n_antecedent")
    )
    fc = freq.select(
        F.col("l_partkey").alias("consequent"), F.col("n_ord").alias("n_consequent")
    )
    return (
        rules.join(fa, "antecedent")
        .join(fc, "consequent")
        .join(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "support",
            "n_antecedent",
            "n_consequent",
            (
                F.col("support").cast("double")
                / F.col("n_antecedent").cast("double")
            ).alias("confidence"),
            (
                (F.col("support") * F.col("n_baskets")).cast("double")
                / (F.col("n_antecedent") * F.col("n_consequent")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) of orders on (recency, price): the
# orders no other order dominates on BOTH dimensions - "the biggest
# order as of each point in time", the skyline-query primitive. An
# order is dominated iff some order has >= price AND >= date with one
# strict; equal points are mutually non-dominating and all survive.
#
# NOT the O(N^2) dominance self-join: prices collapse to a per-day max
# first (the day grid is calendar-bounded), the frontier condition
# becomes "day max exceeds the running max over all strictly later
# days" - one window over the bounded day relation - and the surviving
# (day, pmax) pairs broadcast back onto the orders scan to pick the
# achieving rows. Money compares in exact cents.
#
# Scale notes (100 TB): one bounded-key day agg with map-side partials,
# a window over |days| rows, and one broadcast semi-join of a <=|days|
# relation against the fact scan. Nothing quadratic, nothing driver-side.
@query(
    "pareto_frontier_orders",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    ),
    daymax AS (SELECT day, max(price_cents) AS pmax FROM pts GROUP BY day),
    fr AS (
        SELECT day, pmax,
               max(pmax) OVER (ORDER BY day DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS later_max
        FROM daymax
    )
    SELECT p.o_orderkey, p.day, p.price_cents
    FROM pts p
    JOIN fr ON fr.day = p.day AND p.price_cents = fr.pmax
    WHERE fr.later_max IS NULL OR fr.pmax > fr.later_max
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    daymax = pts.groupBy("day").agg(F.max("price_cents").alias("pmax"))
    w_later = W.orderBy(F.desc("day")).rowsBetween(
        W.unboundedPreceding, -1
    )
    frontier = (
        daymax.withColumn("later_max", F.max("pmax").over(w_later))
        .where(F.col("later_max").isNull() | (F.col("pmax") > F.col("later_max")))
        # rename: frontier derives from pts, so same-name columns would be
        # lineage-ambiguous in the join back onto pts
        .select(F.col("day").alias("f_day"), F.col("pmax").alias("f_pmax"))
    )
    return pts.join(
        F.broadcast(frontier),
        (F.col("day") == F.col("f_day"))
        & (F.col("price_cents") == F.col("f_pmax")),
    ).select("o_orderkey", "day", "price_cents")


# ---------------------------------------------------------------------------
# Rolling 7-day active users (DAU/WAU): for each day, the EXACT count of
# distinct users active in the trailing 7-day window - the sliding-
# window distinct that plain windowed aggs cannot express (distinct
# does not decompose over frames). Implemented as coverage expansion:
# each active (user, day) contributes membership to the 7 calendar days
# it keeps the user "weekly active" for, the expansion dedups, and a
# bounded-key count per day remains. DAU rides the same distinct base;
# the stickiness ratio is one division of exact integers (gap days with
# coverage but no activity keep dau = 0 via the left join).
#
# Scale notes (100 TB): the expansion is a stateless 7x fan-out of the
# (user, day) distinct - the standard exact-sliding-distinct cost, far
# below re-scanning the fact per window - followed by one (user, day)
# dedup shuffle and bounded-day aggs. The horizon clamp is a broadcast
# 1-row scalar. (The approximate alternative at extreme scale is 7-day
# HLL partial unions - sketch_rollup_users' shape; this operator is the
# exact path.)
_WAU_DAYS = 7


@query(
    "weekly_active_users",
    oracle=f"""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
    maxd AS (SELECT max(day) AS max_day FROM act),
    cover AS (
        SELECT DISTINCT user_id, day + CAST(g AS INTEGER) AS day
        FROM act, (SELECT unnest(generate_series(0, {_WAU_DAYS - 1})) AS g)
        CROSS JOIN maxd
        WHERE day + CAST(g AS INTEGER) <= max_day
    ),
    wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
            FROM cover GROUP BY day),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
            FROM act GROUP BY day)
    SELECT w.day, COALESCE(d.dau, 0) AS dau, w.wau,
           CAST(COALESCE(d.dau, 0) AS DOUBLE) / w.wau AS dau_wau_ratio
    FROM wau w LEFT JOIN dau d ON d.day = w.day
    """,
)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): `act` feeds the max-day agg, the
    # window-cover explode, and the DAU agg - 3 events scan+distinct
    # runs per plan. No-op at fixture scale (the r16 cheap-subtree
    # lesson); at corpus scale the (user, day) rollup persists once the
    # scan fills the cores.
    ev_scan = load_table(spark, sf_dir, "events")
    act = (
        ev_scan
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    act = caches.persist_when_scaled(act, ev_scan)
    maxd = act.agg(F.max("day").alias("max_day"))
    cover = (
        act.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(_WAU_DAYS - 1))).alias("g"),
            "day",
        )
        .join(F.broadcast(maxd))
        .select("user_id", F.date_add("day", F.col("g")).alias("day"), "max_day")
        .where(F.col("day") <= F.col("max_day"))
        .select("user_id", "day")
        .distinct()
    )
    wau = cover.groupBy("day").agg(F.count("*").alias("wau"))
    dau = act.groupBy("day").agg(F.count("*").alias("dau"))
    return wau.join(dau, "day", "left").select(
        "day",
        F.coalesce("dau", F.lit(0)).alias("dau"),
        "wau",
        (
            F.coalesce("dau", F.lit(0)).cast("double")
            / F.col("wau").cast("double")
        ).alias("dau_wau_ratio"),
    )


# ---------------------------------------------------------------------------
# Decile lift / gains table: the third leg of the propensity-eval
# triad (auc_click_propensity ranks, calibration_curve_clicks checks
# probability fit; the lift table answers the CAMPAIGN question: "if I
# target the top 10/20/...% by score, what conversion rate and what
# share of all converters do I capture?"). Users rank by the same
# (click-count score, purchase-conversion label) construction as the
# AUC op; deciles are EXACT ntile(10) over (score DESC, user_id).
#
# Scale notes (100 TB): exact ntile WITHOUT the single-partition global
# sort - functions.band_offsets: approx boundaries on the negated score
# split users into ordered bands (a broadcast 1-row array - correctness
# never depends on boundary quality), ONE per-band row_number shuffle,
# then band offsets from a window over the BAND-COUNT-sized table. All
# per-decile math is exact ints; rates/lift/cum-capture are the final
# IEEE divisions, mirrored association-for-association in the oracle.


@query(
    "decile_lift_table",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS score,
               CASE WHEN count(*) FILTER (event_type = 'purchase') >= 15
                    THEN 1 ELSE 0 END AS label
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT label,
               ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
        FROM per_user
    ),
    g AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(label) AS BIGINT) AS n_pos
        FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tn,
                 CAST(sum(n_pos) AS BIGINT) AS tp FROM g)
    SELECT decile, n_users, n_pos,
           CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
           (CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))
               / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) AS lift,
           CAST(CAST(sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
               / CAST(tp AS DOUBLE) AS cum_capture
    FROM g CROSS JOIN t
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("score"),
        F.when(F.count(F.when(F.col("event_type") == "purchase", 1)) >= 15, 1)
        .otherwise(0)
        .alias("label"),
    )
    pu = per_user.select(
        "user_id", "label", (-F.col("score")).alias("key")
    )
    ranked = band_offsets(
        pu,
        "key",
        F.count("*"),
        lambda band: F.row_number()
        .over(band.orderBy("key", "user_id"))
        .alias("_lrn"),
    )
    g = (
        ranked.withColumn(
            "decile", decile(F.col("_off") + F.col("_lrn"), F.col("_n"))
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("label").cast("bigint").alias("n_pos"),
        )
    )
    t = g.agg(
        F.sum("n_users").cast("bigint").alias("tn"),
        F.sum("n_pos").cast("bigint").alias("tp"),
    )
    w_cap = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    conv = F.col("n_pos").cast("double") / F.col("n_users").cast("double")
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_users",
            "n_pos",
            conv.alias("conv_rate"),
            (
                conv
                / (F.col("tp").cast("double") / F.col("tn").cast("double"))
            ).alias("lift"),
            (
                F.sum("n_pos").over(w_cap).cast("double")
                / F.col("tp").cast("double")
            ).alias("cum_capture"),
        )
    )
