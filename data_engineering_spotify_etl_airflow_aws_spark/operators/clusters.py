"""Near-duplicate cluster resolution: connected components over the
near-dup pair graph, producing one canonical doc per cluster.

The reference dedups by single-column key only (drop_duplicates,
P:108/P:130). A pretraining-corpus pipeline needs the transitive closure:
near-dup PAIRS (dedup.py) say a~b and b~c, so {a,b,c} must collapse to one
survivor even when a and c never matched directly. That closure is exactly
connected components on the pair graph.

Spark plan (iterative min-label propagation + pointer jumping):
  labels start as each node's own id; each round every node takes the min
  of its neighbors' labels (one hop), then replaces its label by its
  label's label (pointer jump). Labels are monotone non-increasing and
  lower-bounded by the component minimum, and pointer jumping halves the
  remaining path length, so the loop converges in O(log(diameter)) rounds
  to cluster_id = min(doc_id in component) - fully deterministic, no
  tie-breaking needed.

Driver involvement: ONE 8-byte scalar per round (a decimal checksum of the
label column) to detect the fixpoint - the standard shape for iterative
graph algorithms (GraphX/GraphFrames do the same); no row data ever
reaches the driver. The oracle is a DuckDB recursive CTE over the same
edges, so the iterative plan is value-checked end to end, not rows-only.

Lineage MUST be truncated every round (caches.checkpoint), not merely
persisted: the pointer-jump self-join references the hop relation twice,
so round r's ANALYZED plan holds 2^r copies of the full upstream tree
(including the expensive edge-producing join). Caching short-circuits
execution but Catalyst still walks the whole logical plan - measured
2.8s/9.8s/~40s for rounds 0/1/2 at sf0.1 before truncation, <1s/round
after. An executor-local checkpoint (no HDFS dir) is the right tool on
a long-lived session; caches.checkpoint names the reliable variant a
fault-tolerant production run would switch to.

Scale notes (100 TB):
  * each round is equi-join + partial-agg shuffles on node id - a uniform
    high-entropy key; no broadcast of anything O(nodes).
  * rounds are O(log diameter); near-dup components are shallow (planted
    fixture clusters converge in 2 rounds, the cap of 15 covers diameters
    beyond 2^15 after jumping).
  * label state is one (node, lbl) row per doc, checkpointed per round;
    every round's blocks stay until the query scope is released
    (caches.release_all), not when a superseded DataFrame is GC'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..registry import query
from ..session import session_shuffle_partitions, with_shuffle_partitions
from ..tables import load_table
from .dedup import (
    _DUCK_H32,
    _DUCK_JACCARD,
    _DUCK_SHINGLE_BASE,
    _SPARK_H32,
    JACCARD_TAU,
    ngram_jaccard_near_dup,
)


def _edge_frame_width(spark: SparkSession, n_edges: int):
    """Context manager that narrows the shuffle width for a loop over an
    edge frame of n_edges rows, whose relations are all O(edges) or
    O(nodes): one partition per ~50k edges, floor 8, capped at the
    session value (never WIDEN), so a 100 TB edge set keeps session width. Round 5 re-measured the floor: one partition
    serializes the per-round micro-jobs and is ~1.6x SLOWER than 8 even
    on a 256-edge fixture (the cost is job launch, not task count)."""
    session = session_shuffle_partitions(spark)
    return with_shuffle_partitions(
        spark, min(session, max(8, n_edges // 50_000 + 1))
    )


def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    max_rounds: int = 15,
) -> DataFrame:
    """Distributed connected components. `edges` is undirected with one
    row per pair in either orientation. `nodes` supplies one row per
    vertex (isolated vertices become their own singleton component);
    pass None to derive the vertex set from the edges - CRUCIALLY, the
    derived set reads the CHECKPOINTED undirected-edge relation, so an
    expensive upstream edge plan (e.g. the Jaccard pair join) is
    materialized exactly once, not once per downstream consumer.

    Returns (node, lbl) where lbl = min(vertex id in the component). The
    result is an eagerly-materialized caches.checkpoint relation (its
    blocks are freed when the query scope is released).
    """
    # Truncate lineage at the edge relation: every round's plan re-walks
    # whatever sits above `und` during analysis, so an expensive upstream
    # join (the Jaccard pair plan) must be cut out of the loop entirely.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    und = caches.checkpoint(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    # Size the ROUND shuffles by the iteration frame (edge endpoints), not
    # the session default: und is materialized, so its count is free. The
    # upstream edge plan (the expensive part) already ran at full width
    # inside the checkpoint above.
    with _edge_frame_width(edges.sparkSession, und.count()):
        if nodes is None:
            vertices = und.select(F.col("src").alias("node")).distinct()
        else:
            vertices = nodes.select(F.col(id_col).alias("node"))
        labels = caches.checkpoint(
            vertices.select("node", F.col("node").alias("lbl"))
        )
        # label(v) <= v holds throughout (init =, least() only lowers), so
        # the decimal checksum strictly decreases iff any label moved.
        checksum = lambda df: df.agg(  # noqa: E731
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).first()[0]
        prev = checksum(labels)
        for _ in range(max_rounds):
            # hop: take the min label over incoming neighbors
            msgs = (
                und.join(labels, und.src == labels.node)
                .groupBy("dst")
                .agg(F.min("lbl").alias("nbr"))
            )
            hop = labels.join(msgs, labels.node == msgs.dst, "left").select(
                "node", F.least("lbl", F.coalesce("nbr", "lbl")).alias("lbl")
            )
            # jump: label's label (always defined: every label is a vertex
            # id). The checkpoint both truncates the 2x-per-round plan
            # growth of this self-join AND materializes nxt for the
            # checksum read.
            nxt = caches.checkpoint(
                hop.alias("x")
                .join(hop.alias("y"), F.col("x.lbl") == F.col("y.node"))
                .select(
                    F.col("x.node").alias("node"),
                    F.least("x.lbl", "y.lbl").alias("lbl"),
                )
            )
            cur = checksum(nxt)
            labels = nxt
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_rounds} rounds"
            )
    return labels


# ---------------------------------------------------------------------------
# Cluster resolution over the EXACT n-gram Jaccard pairs (dedup.py): every
# document labeled with its cluster's canonical doc (min doc_id) and the
# cluster size; singletons keep their own id. The recursive-CTE oracle
# proves the iterative Spark plan computes the true transitive closure.
@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_DUCK_SHINGLE_BASE}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE a.n_sh > 0 AND b.n_sh > 0
          AND {_DUCK_JACCARD} >= {JACCARD_TAU}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    lab AS (
        SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    # Iterate ONLY over edge endpoints (nodes=None: docs that matched some
    # pair, derived from the checkpointed edge relation) - singletons never
    # change label, so they join back in one pass after the fixpoint.
    # Near-dup endpoints are a tiny fraction of the corpus, which shrinks
    # every iteration frame by orders of magnitude.
    labels = connected_components(
        None, pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    )
    return (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id")
        )
        .withColumn(
            "cluster_size", F.count("*").over(W.partitionBy("cluster_id"))
        )
        # no output sort: one row per doc (full-table scale), driver hash
        # is order-insensitive; the cluster_id window partitioning is the
        # plan's last required exchange
    )


# ---------------------------------------------------------------------------
# PageRank power iteration over the customer<->supplier trade graph -
# the general iterative-numeric-algorithm shape (beyond the min-label CC
# above): a rank VECTOR refined by repeated sparse matrix-vector
# products. Each iteration is the previous ranks joined to the
# degree-carrying edges on src + one groupBy(dst) - both keyed by
# high-entropy node ids, no broadcast HINTS and no driver collection of
# anything O(nodes) (stats may still broadcast the |nodes|-row rank
# relation at small scale; at 100 TB every loop join is a node-id
# shuffle), so the per-iteration cost is exactly one pass over the edge
# list (the 100 TB shape; GraphX's Pregel does the same joins under the
# hood). Fixed
# ITERS=3 keeps the registered query deterministic and lets the oracle
# unroll the recurrence as chained CTEs.
#
# Cross-engine determinism: each iteration's sum quantizes contributions
# to integer micro-units (floor(x*1e12+0.5) - see label_centroids for
# why decimal-cast sums are NOT safe on arbitrary doubles), and the
# resulting integer, cast back, is an exact double (< 2^53), so every
# engine enters iteration k+1 with identical IEEE inputs. The damping
# update is pure elementwise IEEE arithmetic.
#
# Accumulator width (r16): the Spark side sums the micro-units in LONG,
# not decimal(38,0). Magnitude proof: total rank mass is 1, so
# sum(floor((rank/outdeg)*1e12+0.5)) over ALL edges is <= 1e12 + |und|/2
# (each floor(+0.5) adds < 1 unit of rounding); any per-node partial is
# smaller still. That is < 2^53 by three orders of magnitude even at a
# ~1e9-edge decade, so (a) the long sum cannot overflow, and (b) the
# native long->double cast is exact and equals the oracle's HUGEINT->
# VARCHAR->DOUBLE conversion bit-for-bit. Summing in long also avoids a
# decimal aggregation over the edge-sized relation. The ORACLE keeps
# HUGEINT + the VARCHAR hop (DuckDB's native HUGEINT->DOUBLE is not
# correctly rounded above 2^53) - rank mass is conserved at exactly 1
# regardless of scale, so the bound is scale-free and the two sides
# stay value-identical at every decade.
_PR_DAMP = 0.85
# the residual factor is computed ONCE here and interpolated into the
# oracle as its decimal repr: a SQL engine folding (1.0 - 0.85) in
# exact decimal lands 1 ulp away from Python's IEEE subtraction
# (review finding, this round), and the un-quantized base term reaches
# the emitted rank
_PR_RESID = 1.0 - _PR_DAMP
_PR_ITERS = 3
_PR_SUPP_OFFSET = 10_000_000  # namespace suppliers away from customers


def _pr_spark_micro(c: "F.Column") -> "F.Column":
    # F.floor on a double already yields LongType; the sum stays in long
    # (magnitude proof in the block comment above)
    return F.floor(c * 1e12 + F.lit(0.5))


@query(
    "pagerank_trade_graph",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS src,
               l.l_suppkey + {_PR_SUPP_OFFSET} AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    und AS (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    n AS (SELECT count(*) AS n_nodes FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM n) AS rank FROM nodes),
    it1 AS (
        SELECT d.node,
               {_PR_RESID} / (SELECT n_nodes FROM n)
               + {_PR_DAMP} * (CAST(CAST(coalesce(sum(CAST(floor(
                     (r.rank / g.outdeg) * 1000000000000.0 + 0.5)
                     AS HUGEINT)), 0) AS VARCHAR) AS DOUBLE) / 1000000000000.0) AS rank
        FROM nodes d
        LEFT JOIN und e ON e.dst = d.node
        LEFT JOIN r0 r ON r.node = e.src
        LEFT JOIN deg g ON g.src = e.src
        GROUP BY d.node
    ),
    it2 AS (
        SELECT d.node,
               {_PR_RESID} / (SELECT n_nodes FROM n)
               + {_PR_DAMP} * (CAST(CAST(coalesce(sum(CAST(floor(
                     (r.rank / g.outdeg) * 1000000000000.0 + 0.5)
                     AS HUGEINT)), 0) AS VARCHAR) AS DOUBLE) / 1000000000000.0) AS rank
        FROM nodes d
        LEFT JOIN und e ON e.dst = d.node
        LEFT JOIN it1 r ON r.node = e.src
        LEFT JOIN deg g ON g.src = e.src
        GROUP BY d.node
    ),
    it3 AS (
        SELECT d.node,
               {_PR_RESID} / (SELECT n_nodes FROM n)
               + {_PR_DAMP} * (CAST(CAST(coalesce(sum(CAST(floor(
                     (r.rank / g.outdeg) * 1000000000000.0 + 0.5)
                     AS HUGEINT)), 0) AS VARCHAR) AS DOUBLE) / 1000000000000.0) AS rank
        FROM nodes d
        LEFT JOIN und e ON e.dst = d.node
        LEFT JOIN it2 r ON r.node = e.src
        LEFT JOIN deg g ON g.src = e.src
        GROUP BY d.node
    )
    SELECT node - {_PR_SUPP_OFFSET} AS suppkey, rank
    FROM it3 WHERE node >= {_PR_SUPP_OFFSET}
    ORDER BY rank DESC, suppkey
    LIMIT 25
    """,
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _PR_SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    # No distinct on the undirected union: `edges` is already distinct
    # and the supplier-offset namespacing makes a forward row collide
    # with a reversed row never (src < offset <= dst on every forward
    # edge), so the union is duplicate-free by construction - one full
    # edge-list shuffle saved. (The oracle's UNION dedups the same
    # already-unique set.)
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return _pr_iterate(und)


def _pr_iterate(und: DataFrame) -> DataFrame:
    """Top-25 supplier ranks from the undirected edge list ``und``
    (src, dst). Takes ``und`` as-is so a reference iteration can be
    swapped in against the same input (test_llm_ops)."""
    # Each edge carries its source's out-degree, attached once; lineage
    # truncates once at that relation (same rationale as
    # connected_components). No node-side left join per round: `und`
    # holds both orientations of every edge, so every node is some
    # edge's dst and gets a (non-null) contribution sum every round.
    e = caches.checkpoint(
        und.withColumn("outdeg", F.count("*").over(W.partitionBy("src")))
    )
    n_edges, n_nodes = e.agg(F.count("*"), F.count_distinct("src")).first()
    # iteration shuffles sized by the edge frame, as in CC above
    with _edge_frame_width(e.sparkSession, n_edges):
        base = _PR_RESID / n_nodes
        rank, edge_ranks = F.lit(1.0 / n_nodes), e  # r0 is uniform: no join
        for i in range(_PR_ITERS):
            if i:  # the round's one edge-sized join
                edge_ranks = e.join(ranks, e.src == ranks.node)
                rank = F.col("rank")
            # micro(rank/outdeg) depends on the source only: every
            # out-edge of a node carries the same long micro-unit, and
            # the long sum is exact in any order
            c_u = _pr_spark_micro(rank / F.col("outdeg"))
            # native long->double is exact: the value is < 2^53
            # (magnitude proof above)
            s_u = F.sum(c_u).cast("double") / F.lit(1e12)
            # each iteration's result is small (O(nodes)); checkpoint to
            # keep the loop's analyzed plan linear, as in CC above
            ranks = caches.checkpoint(
                edge_ranks.groupBy("dst")
                .agg((F.lit(base) + F.lit(_PR_DAMP) * s_u).alias("rank"))
                .withColumnRenamed("dst", "node")
            )
    return (
        ranks.where(F.col("node") >= _PR_SUPP_OFFSET)
        .select((F.col("node") - _PR_SUPP_OFFSET).alias("suppkey"), "rank")
        .orderBy(F.desc("rank"), "suppkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Friend-of-friend supplier recommendation with Adamic-Adar weighting
# over the bipartite trade graph: for a bounded customer pick, recommend
# suppliers used by co-customers (customers sharing a supplier) but not
# by the customer itself, scoring each candidate by sum over connecting
# co-customers of 1/ln(#suppliers of that co-customer) - the classic
# common-neighbors recommender where promiscuous neighbors count less.
# Every hop is an equi-join on cust/supp keys (never all-pairs); the
# (customer, co-customer) pair set is DISTINCT'd before the second hop
# so shared-supplier multiplicity cannot double-count a connector. A
# connector with degree 1 cannot produce a recommendation (its only
# supplier is the shared one, removed by the ownership anti-join), so
# ln(deg) is never ln(1)=0 in a surviving row. Per-connector weights
# are quantized to picounits once; candidate scores are exact integer
# sums - aggregation-order-free.
#
# Edges are REPEAT-trade relationships (>= _FOF_MIN_LINES lineitems
# between the pair): on the fixtures' near-complete bipartite graph
# (every supplier serves ~60% of customers) raw edges make any two
# customers co-customers and the 2-hop fan-out degenerates into
# all-pairs (measured 45x the runtime at sf0.1); thresholding to
# repeat relationships is both the standard recommender practice
# (signal over incidental contact) and the fan-out bound.
#
# Scale notes (100 TB): the query pick is fixed-count (20, md5-hash
# order, TakeOrderedAndProject) and BROADCASTS through both hops, so
# every join against the edge list streams the big side once;
# per-candidate top-3 is a 20-key window. The all-customers variant
# would bound fan-out by degree-capping connectors first - the scoring
# semantics under test are pick-size-agnostic.
_FOF_PICK = 20
_FOF_TOP = 3
_FOF_MIN_LINES = 2
_FOF_H_SPARK = _SPARK_H32.format(s="concat('fof:', cast(src as string))")
_FOF_H_DUCK = _DUCK_H32.format(s="concat('fof:', CAST(src AS VARCHAR))")


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src=custkey, dst=suppkey) REPEAT-trade edges: pairs with at least
    _FOF_MIN_LINES lineitems - the thresholded sibling of the PageRank
    edge builder above (see the fan-out note on supplier_recs_fof)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .agg(F.count("*").alias("n_lines"))
        .where(F.col("n_lines") >= _FOF_MIN_LINES)
        .select("src", "dst")
    )


@query(
    "supplier_recs_fof",
    oracle=f"""
    WITH edges AS (
        SELECT o.o_custkey AS src, l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2 HAVING count(*) >= {_FOF_MIN_LINES}
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    pick AS (
        SELECT src FROM deg
        ORDER BY {_FOF_H_DUCK}, src LIMIT {_FOF_PICK}
    ),
    conn AS (
        SELECT DISTINCT a.src AS c0, b.src AS c1
        FROM edges a
        JOIN pick p ON p.src = a.src
        JOIN edges b ON b.dst = a.dst AND b.src != a.src
    ),
    cand AS (
        SELECT conn.c0, e2.dst AS rec, conn.c1
        FROM conn JOIN edges e2 ON e2.src = conn.c1
        WHERE NOT EXISTS (
            SELECT 1 FROM edges own
            WHERE own.src = conn.c0 AND own.dst = e2.dst
        )
    ),
    scored AS (
        SELECT c0, rec,
               count(*) AS n_connectors,
               sum(CAST(floor(1000000000000.0 / ln(deg.d) + 0.5)
                   AS HUGEINT)) AS score_p
        FROM cand JOIN deg ON deg.src = cand.c1
        GROUP BY c0, rec
    )
    SELECT c0 AS custkey, rec AS rec_suppkey, rank,
           CAST(n_connectors AS BIGINT) AS n_connectors,
           round(CAST(CAST(score_p AS VARCHAR) AS DOUBLE) / 1000000000000, 6) AS aa_score
    FROM (
        SELECT c0, rec, n_connectors, score_p,
               row_number() OVER (
                   PARTITION BY c0 ORDER BY score_p DESC, rec
               ) AS rank
        FROM scored
    ) WHERE rank <= {_FOF_TOP}
    """,
)
def supplier_recs_fof(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = caches.checkpoint(_trade_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    pick = (
        deg.orderBy(F.expr(_FOF_H_SPARK).asc(), F.col("src").asc())
        .limit(_FOF_PICK)
        .select("src")
    )
    my_edges = edges.join(F.broadcast(pick), "src").select(
        F.col("src").alias("c0"), F.col("dst").alias("s1")
    )
    conn = (
        my_edges.join(
            edges.select(F.col("src").alias("c1"), F.col("dst").alias("s1")),
            "s1",
        )
        .where(F.col("c1") != F.col("c0"))
        .select("c0", "c1")
        .distinct()
    )
    cand = conn.join(
        edges.select(F.col("src").alias("c1"), F.col("dst").alias("rec")),
        "c1",
    ).join(
        edges.select(F.col("src").alias("c0"), F.col("dst").alias("rec")),
        ["c0", "rec"],
        "left_anti",
    )
    w_p = F.floor(F.lit(1_000_000_000_000.0) / F.log(F.col("d")) + 0.5).cast(
        "decimal(38,0)"
    )
    scored = (
        cand.join(deg.select(F.col("src").alias("c1"), "d"), "c1")
        .groupBy("c0", "rec")
        .agg(
            F.count("*").alias("n_connectors"),
            # r12 fix (SCALING_r10 hit list): score_p stays decimal(38,0)
            # through the ranking window (it is NOT an output column) -
            # the previous bigint cast had only ~6x headroom on a
            # pathological 1e6-connector candidate, and a nulled score
            # would silently misrank rather than fail loudly. Oracle
            # mirrors: HUGEINT score, no BIGINT cast. Integer ordering
            # and the one final ->double conversion are identical in
            # decimal(38,0) and HUGEINT.
            F.sum(w_p).alias("score_p"),
        )
    )
    wr = W.partitionBy("c0").orderBy(F.desc("score_p"), "rec")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _FOF_TOP)
        .select(
            F.col("c0").alias("custkey"),
            F.col("rec").alias("rec_suppkey"),
            "rank",
            F.col("n_connectors").cast("bigint").alias("n_connectors"),
            F.round(
                F.col("score_p").cast("double") / 1_000_000_000_000, 6
            ).alias("aa_score"),
        )
    )


# ---------------------------------------------------------------------------
# k-hop reachability (bounded BFS) on the part co-occurrence graph: the
# minimum hop distance (<= 3) from a seed set to every reachable part -
# the bounded-neighborhood primitive between one-hop joins and the full
# closure above (connected_components): "what is within 3 links of
# these products?". Completes the graph family: CC (unbounded closure),
# PageRank (global stationary weights), triangles (local density),
# Adamic-Adar (one-hop scoring), BFS (bounded distance).
#
# Seeds are a FIXED-COUNT deterministic pick - the 8 smallest nodes in
# md5-hash order (the round-6 scale rule: seed cardinality must not
# grow with the data; same device as sample_exact_k_per_lang / the
# k-means seed fix). Hop counts are set-defined integers; no floats.
#
# Scale notes (100 TB): each of the 3 rounds is frontier ⋈ edges on the
# node key followed by a distinct and an anti-join against the visited
# set - all node-keyed shuffles, frontier-sized, nothing O(graph)
# beyond the persisted edge relation. Fixed round count, so no fixpoint
# detection and no driver traffic; each round's new frontier is
# checkpointed all the same (the loop says why).
_KHOP_SEEDS = 8
_KHOP_MAX = 3


def _khop_oracle() -> str:
    from .insights import _PART_ARCS_SQL

    h = _DUCK_H32.format(s="concat('khop-', CAST(node AS VARCHAR))")
    return f"""
    WITH RECURSIVE {_PART_ARCS_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM dedges),
    seeds AS (
        SELECT node FROM nodes
        ORDER BY {h}, node LIMIT {_KHOP_SEEDS}
    ),
    reach AS (
        SELECT node, 0 AS hop FROM seeds
        UNION
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN dedges e ON e.src = r.node
        WHERE r.hop < {_KHOP_MAX}
    )
    SELECT node, CAST(min(hop) AS BIGINT) AS hop
    FROM reach GROUP BY node
    """


@query("khop_part_reach", oracle=_khop_oracle())
def khop_part_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .insights import _part_arcs

    edges = _part_arcs(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    h = F.expr(_SPARK_H32.format(s="concat('khop-', cast(node as string))"))
    seeds = (
        nodes.withColumn("h", h)
        .orderBy("h", "node")
        .limit(_KHOP_SEEDS)
        .select("node")
    )
    reach = seeds.select("node", F.lit(0).alias("hop"))
    frontier = seeds
    for k in range(1, _KHOP_MAX + 1):
        nbrs = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # truncate lineage per round (the CC lesson, module docstring):
        # round k's anti-join references the whole reach union, so an
        # unbroken chain replays every earlier round's edge join again -
        # measured 25.6s -> ~7s at sf0.1 for the 3-round BFS
        new = caches.checkpoint(nbrs.join(reach, "node", "left_anti"))
        reach = reach.unionByName(new.select("node", F.lit(k).alias("hop")))
        frontier = new
    return reach.select("node", F.col("hop").cast("bigint").alias("hop"))


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous LPA, fixed 3 rounds) on the
# part co-purchase graph: each node adopts the most frequent label among
# its neighbors, ties to the smallest label - the community-detection
# semantics (dense neighborhoods agree on a label) that min-label
# CC cannot express: CC converges to one label per CONNECTED component;
# LPA splits a connected graph into locally-dense communities.
# Completes the graph family: CC (closure), PageRank (global weights),
# triangles (density), Adamic-Adar (scoring), BFS (distance), LPA
# (communities).
#
# Determinism: synchronous updates (round k reads only round k-1's
# labels), fixed round count, and the (count DESC, label ASC) tie order
# make every round a pure function of the edge set - no convergence
# detection, no randomized update order (the classic async LPA pitfall).
#
# Scale notes (100 TB): per round, one join of the node-sized label
# relation against the edge relation CACHED pre-partitioned on the join
# key (src - the khop device, so rounds reuse the exchange), a
# (dst, lab) partial-agg shuffle, and a dst-keyed struct-max (no window
# sort). Labels are checkpointed per round - the CC lineage
# lesson (module docstring). Nothing O(nodes) is broadcast or
# collected; round count is fixed, so zero driver traffic.
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    from .insights import _PART_ARCS_SQL

    rounds = []
    prev = "l0"
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""
    n{k} AS (
        SELECT e.dst AS node, l.lab, count(*) AS c
        FROM dedges e JOIN {prev} l ON l.node = e.src
        GROUP BY 1, 2
    ),
    l{k} AS (
        SELECT node, lab FROM (
            SELECT node, lab,
                   row_number() OVER (
                       PARTITION BY node ORDER BY c DESC, lab) AS rn
            FROM n{k}
        ) WHERE rn = 1
    )"""
        )
        prev = f"l{k}"
    return f"""
    WITH {_PART_ARCS_SQL},
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM dedges),
    {','.join(rounds)}
    SELECT node, CAST(lab AS BIGINT) AS community FROM {prev}
    """


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .insights import _part_arcs

    edges = _part_arcs(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(edges.dst, "lab")
            .agg(F.count("*").alias("c"))
        )
        # struct-max picks (max count, then min label) without a window
        # sort; -lab flips the tie order inside the max
        labels = caches.checkpoint(
            cnt.groupBy("dst")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lab")).alias("nl"))).alias("b"))
            .select(
                F.col("dst").alias("node"), (-F.col("b.nl")).alias("lab")
            )
        )
    return labels.select(
        "node", F.col("lab").cast("bigint").alias("community")
    )


# ---------------------------------------------------------------------------
# Degree-distribution power-law check: the co-purchase graph's degree
# histogram plus the log-log OLS slope over it - the "is this graph
# scale-free?" diagnostic that sizes hub-handling strategies (a slope
# near -2..-3 means hubs exist and skew mitigation matters; a flat
# decay means uniform-degree assumptions hold). The zipf_token_slope
# machinery applied to GRAPH degrees instead of token frequencies.
#
# Determinism: degrees and histogram counts are exact ints; each
# ln(degree)/ln(count) is floor-quantized to micro before the exact
# moment sums; the slope is one IEEE division chain on exact ints.
#
# Scale notes (100 TB): degree = one node-keyed count over the edge
# relation; the histogram collapses to the bounded distinct-degree
# table, and the regression runs on THAT (the skew_profile collapse).
@query(
    "degree_powerlaw_check",
    oracle=None,
)
def degree_powerlaw_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .insights import _part_edges

    # Persist the pair expansion: the degree union references `und`
    # twice, so without this the executed plan runs the basket explode +
    # distinct (the query's dominant cost) twice - 2 lineitem scans for
    # one logical pass (r16; guide §5).
    und = caches.persist(_part_edges(spark, sf_dir))
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    lx = F.floor(
        F.log(F.col("degree").cast("double")) * F.lit(1_000_000) + F.lit(0.5)
    ).cast("bigint")
    ly = F.floor(
        F.log(F.col("n_nodes").cast("double")) * F.lit(1_000_000) + F.lit(0.5)
    ).cast("bigint")
    pts = hist.select(lx.alias("x"), ly.alias("y"))
    # Moment sums accumulate in decimal(38,0), cast INSIDE the sum (the
    # covariance-matrix pattern): Spark's sum over a raw BIGINT column
    # accumulates in BIGINT and fails past 2^63 (ANSI raises; with ANSI
    # off it wraps silently - r13 behavior pins), while the
    # DuckDB oracle's HUGEINT sum does not - an engine-asymmetric
    # overflow the hash check cannot see until it fires (r10 review
    # finding). Per-ROW products provably fit (ln of any count < 90, so
    # x,y < 9e7 and x*y < 9e15 << 2^63); only the ACCUMULATION needs the
    # wide type - at 100 TB the distinct-degree table can reach ~1e6
    # rows x ~8e14 products ~ 8e20 > 2^63.
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return m.select(
        "n",
        F.floor(slope * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("slope_micro"),
    )


def _degree_powerlaw_oracle() -> str:
    from .insights import _PART_EDGES_SQL

    return f"""
    WITH {_PART_EDGES_SQL},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v FROM edges)
        GROUP BY 1
    ),
    hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
             FROM deg GROUP BY 1),
    pts AS (
        SELECT CAST(floor(ln(CAST(degree AS DOUBLE)) * 1000000 + 0.5)
                   AS BIGINT) AS x,
               CAST(floor(ln(CAST(n_nodes AS DOUBLE)) * 1000000 + 0.5)
                   AS BIGINT) AS y
        FROM hist
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx,
               sum(y) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM pts
    )
    SELECT n,
           CAST(floor((CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS slope_micro
    FROM m
    """


from ..registry import ORACLES as _CL_OR  # noqa: E402

_CL_OR["degree_powerlaw_check"] = _degree_powerlaw_oracle()


# ---------------------------------------------------------------------------
# Degree assortativity: the Pearson correlation of endpoint degrees
# across edges of the co-purchase graph - do hubs link to hubs
# (assortative, r > 0) or to leaves (disassortative, r < 0)? The
# structural companion to degree_powerlaw_check (the DEGREE
# distribution) that decides whether hub-skew mitigation can rely on
# hub isolation (disassortative) or must handle hub-hub hot edges.
# Computed over both edge orientations (the standard undirected form),
# all moments exact integers.
#
# Scale notes (100 TB): degrees are one node-keyed count; each edge
# picks up its two endpoint degrees via two node-keyed joins (the same
# key, partitioning reused); the correlation is a 1-row exact-moment
# reduction.
@query(
    "degree_assortativity",
    oracle=None,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .insights import _part_edges

    # Persist the pair expansion AND the degree table: `edges` references
    # `und` twice (the two orientations) and is itself consumed by the
    # degree agg and the e2 probe, while `deg` feeds two joins - without
    # the persists the executed plan re-ran the basket explode + distinct
    # SIX times (12 lineitem scans in one plan, r16 measurement; guide
    # §5).
    und = caches.persist(_part_edges(spark, sf_dir))
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = caches.persist(
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d")),
    )
    e2 = (
        edges.join(deg.withColumnRenamed("node", "src")
                   .withColumnRenamed("d", "dx"), "src")
        .join(deg.withColumnRenamed("node", "dst")
              .withColumnRenamed("d", "dy"), "dst")
        .select("dx", "dy")
    )
    # sx/sy = sum over EDGES of an endpoint degree = sum of d^2 over
    # nodes: one 1e6-degree hub alone contributes 1e12, so a heavy-tail
    # 100 TB graph overflows a BIGINT accumulator long before the edge
    # count does. Cast to decimal INSIDE the sum (the oracle's HUGEINT
    # sum never wraps - same engine-asymmetric hazard as
    # degree_powerlaw_check above, r10 review finding).
    # r12 ADVICE fix: the PRODUCTS must also cast one factor BEFORE the
    # multiply - (dx * dy).cast(decimal) computes the product in raw
    # BIGINT first and wraps at degree >= ~3e9, the exact single-row
    # class fixed in ewma_control_chart (r10). Same pattern here.
    dxd = F.col("dx").cast("decimal(38,0)")
    dyd = F.col("dy").cast("decimal(38,0)")
    m = e2.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dxd).alias("sx"),
        F.sum(dyd).alias("sy"),
        F.sum(dxd * F.col("dy")).alias("sxy"),
        F.sum(dxd * F.col("dx")).alias("sxx"),
        F.sum(dyd * F.col("dy")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sx * sy / nd
    vx = F.col("sxx").cast("double") - sx * sx / nd
    vy = F.col("syy").cast("double") - sy * sy / nd
    r = cov / F.sqrt(vx * vy)
    return m.select(
        "n",
        F.floor(r * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("assortativity_micro"),
    )


def _assort_oracle() -> str:
    from .insights import _PART_ARCS_SQL

    return f"""
    WITH {_PART_ARCS_SQL},
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM dedges GROUP BY 1),
    e2 AS (
        SELECT a.d AS dx, b.d AS dy
        FROM dedges e
        JOIN deg a ON a.node = e.src
        JOIN deg b ON b.node = e.dst
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(dx) AS sx,
               sum(dy) AS sy,
               sum(CAST(dx AS HUGEINT) * dy) AS sxy,
               sum(CAST(dx AS HUGEINT) * dx) AS sxx,
               sum(CAST(dy AS HUGEINT) * dy) AS syy
        FROM e2
    )
    SELECT n,
           CAST(floor((CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                      / sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                              * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                                * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) AS assortativity_micro
    FROM m
    """


_CL_OR["degree_assortativity"] = _assort_oracle()
