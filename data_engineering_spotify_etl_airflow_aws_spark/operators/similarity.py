"""Similarity-search operators on the embeddings fixture (SURVEY.md §2b).

Three tiers, per the 100 TB brief:

  * brute-force cosine top-k  - the exactness baseline: broadcast the small
    query set, stream the candidate corpus once, per-query top-k window.
  * IVF top-k                 - the scale path: assign every vector to its
    nearest of C sampled centroids (one broadcast join), probe only the
    nprobe closest clusters per query. Candidate set shrinks ~C/nprobe-fold.
  * LSH near-dup pairs        - random-hyperplane signatures; candidate
    pairs share a 16-bit bucket (equi-join, NOT all-pairs), then exact
    cosine verification.

Everything is deterministic and oracle-mirrored: cosine is the zip_with +
left-fold composition from functions.py (bit-identical to DuckDB's
list_transform + list_sum, verified), the query set and the centroid set
are FIXED-COUNT md5-hash-order picks (top-64 / top-256 by hash of a
salted vec_id, vec_id tiebreak - a pure function of the ids whose size
does NOT grow with the corpus; a fractional rule like vec_id % 50 would
make both sets O(N) and the broadcasts unbounded - the round-5 scale
bug), and hyperplanes are integer-arithmetic pseudo-random constants both
engines generate identically. The classic IVF sizing rule is C ~ sqrt(N)
with nprobe fixed; a production deployment would bump N_CENTROIDS per
corpus - here it is a fixed constant so the result is deterministic and
the centroid broadcast is bounded by construction.

The fixture's vectors are near-uniform on the unit sphere (max pairwise
cosine ~0.51), so near_dup at tau=0.9 is correctly EMPTY on it; the planted-
duplicate path is exercised in tests/test_llm_ops.py via the reusable
near_dup_pairs() core.

Scale notes:
  * top-k: queries broadcast, corpus never shuffles until the per-query
    window; with Q queries the window key has Q-way parallelism.
  * IVF: centroid table broadcast twice (assignment + probe); the only wide
    shuffle is the final per-query window over candidates.
  * LSH: bucket join shuffles (bucket, vec_id) pairs only; vectors travel
    once to the verify join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import cosine, oracle_cosine, oracle_sq_l2, sq_l2, vec_double
from ..registry import query
from ..tables import load_table
from .dedup import _DUCK_H32, _SPARK_H32

TOP_K = 5
N_QUERIES = 64  # fixed query-set size: broadcast bounded at any corpus N
N_CENTROIDS = 256  # fixed IVF centroid count (see module docstring)
N_PROBE = 3
NEAR_DUP_TAU = 0.9
_SIG_BITS = 16
_DIM = 64

_OCOS = oracle_cosine("a.emb", "b.emb")

# fixed-count deterministic picks: first-N in md5-hash order over a
# salted vec_id (vec_id tiebreak). Spark plans orderBy().limit() as
# TakeOrderedAndProject - map-side partial top-N, never a global sort -
# so the pick itself is scale-safe and its output size is a CONSTANT.
_Q_H_SPARK = _SPARK_H32.format(s="concat('simq-', cast(vec_id as string))")
_Q_H_DUCK = _DUCK_H32.format(s="concat('simq-', CAST(vec_id AS VARCHAR))")
_C_H_SPARK = _SPARK_H32.format(s="concat('simc-', cast(vec_id as string))")
_C_H_DUCK = _DUCK_H32.format(s="concat('simc-', CAST(vec_id AS VARCHAR))")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec_double("embedding").alias("emb")
    )


def _emb_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb, nrm): the scoring base for topk/IVF. Two measured
    fixes folded in (r6, sf0.1: IVF 6.4s -> 1.3s combined):
      * widen_small_scan - the fixture parquet is ONE split, so every
        crossJoin/scoring pass otherwise runs single-task; a no-op at
        production scale where the scan has many splits.
      * per-vector l2 norm precomputed ONCE - the pair score then
        multiplies two scalars instead of re-folding both arrays per
        pair (per-VECTOR work, not per-PAIR - the LSH verify lesson).
        l2_norm's fold is the same IEEE op sequence as the inline
        cosine denominator, so scores stay bit-identical to the
        oracle's inline form."""
    from ..functions import l2_norm
    from ..tables import widen_small_scan

    return widen_small_scan(_emb(spark, sf_dir)).withColumn(
        "nrm", l2_norm(F.col("emb"))
    )


def _pair_cos(a_emb: str, a_nrm: str, b_emb: str, b_nrm: str) -> Column:
    """cosine from precomputed norms: dot / (nrm_a * nrm_b) - bit-equal
    to functions.cosine (same fold, same divide grouping)."""
    from ..functions import dot

    return dot(F.col(a_emb), F.col(b_emb)) / (F.col(a_nrm) * F.col(b_nrm))


def _query_set(v: DataFrame) -> DataFrame:
    """The fixed N_QUERIES-row query set (query_id, q_emb, q_nrm) -
    bounded, so broadcasting it is safe at any corpus size."""
    return (
        v.orderBy(F.expr(_Q_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k per query vector: the exactness baseline every
# ANN variant is measured against.
@query(
    "topk_similar_per_query",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id, emb FROM v
          ORDER BY {_Q_H_DUCK}, vec_id LIMIT {N_QUERIES}),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               {_OCOS} AS score,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_OCOS} DESC, b.vec_id
               ) AS rank
        FROM q a JOIN v b ON b.vec_id != a.vec_id
    )
    SELECT query_id, cand_id, score, rank
    FROM scored WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def topk_similar_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _emb_n(spark, sf_dir)
    queries = _query_set(v)
    cands = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        F.broadcast(queries)
        .join(cands, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            _pair_cos("q_emb", "q_nrm", "c_emb", "c_nrm").alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF top-k: inverted-file ANN with deterministic sampled centroids.
# Assignment and probing are both broadcast joins against the C-row
# centroid table; only vectors in the nprobe probed clusters are scored.


def _ivf_centroid_set(v: DataFrame) -> DataFrame:
    """The fixed N_CENTROIDS-row (centroid_id, cent_emb, cent_nrm) pick —
    bounded, safe to broadcast at any corpus size. Shared by the IVF
    search and the IVF-PQ composition so their routing is identical."""
    return (
        v.orderBy(F.expr(_C_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(N_CENTROIDS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("emb").alias("cent_emb"),
            F.col("nrm").alias("cent_nrm"),
        )
    )


def _ivf_argmax(
    cent: DataFrame, side: DataFrame, id_col: str, keep: int
) -> DataFrame:
    """Nearest-centroid routing by cosine: (id_col, centroid_id) rows."""
    scored = side.crossJoin(F.broadcast(cent)).select(
        id_col,
        "centroid_id",
        _pair_cos("emb", "nrm", "cent_emb", "cent_nrm").alias("c_score"),
    )
    if keep == 1:
        # assignment over the WHOLE corpus: min(struct(-score, id))
        # (= "score desc, id asc") under groupBy combines map-side,
        # so the N x C scored pairs never shuffle - only N combined
        # rows do. A row_number window would shuffle all N x C rows
        # (measured 10x slower at sf0.1, see curation._km_assign).
        return (
            scored.groupBy(id_col)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c_score")).alias("neg"), F.col("centroid_id")
                    )
                ).alias("m")
            )
            .select(id_col, F.col("m.centroid_id").alias("centroid_id"))
        )
    # probe path: bounded N_QUERIES x C pairs - the window is trivial
    w = W.partitionBy(id_col).orderBy(F.desc("c_score"), "centroid_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= keep)
        .select(id_col, "centroid_id")
    )


@query(
    "ivf_topk_similar",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb FROM v
             ORDER BY {_C_H_DUCK}, vec_id LIMIT {N_CENTROIDS}),
    q AS (SELECT vec_id, emb FROM v
          ORDER BY {_Q_H_DUCK}, vec_id LIMIT {N_QUERIES}),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT a.vec_id, b.centroid_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {oracle_cosine('a.emb', 'b.emb')} DESC,
                                b.centroid_id
                   ) AS rn
            FROM v a CROSS JOIN cent b
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, centroid_id FROM (
            SELECT a.vec_id AS query_id, b.centroid_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {oracle_cosine('a.emb', 'b.emb')} DESC,
                                b.centroid_id
                   ) AS rn
            FROM q a CROSS JOIN cent b
        ) WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.query_id, s.vec_id AS cand_id,
               {oracle_cosine('q.emb', 'c.emb')} AS score,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {oracle_cosine('q.emb', 'c.emb')} DESC, s.vec_id
               ) AS rank
        FROM probe p
        JOIN assign s ON s.centroid_id = p.centroid_id
        JOIN v q ON q.vec_id = p.query_id
        JOIN v c ON c.vec_id = s.vec_id
        WHERE s.vec_id != p.query_id
    )
    SELECT query_id, cand_id, score, rank
    FROM scored WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ivf_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    # The embedding base feeds four consumers (assign over all vectors,
    # probe over queries, plus the q_emb/c_emb sides of the verify join);
    # without a persist each one re-reads parquet and re-runs the
    # array<float> -> array<double> cast (round-3 verdict #2).
    v = caches.persist(_emb_n(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    cent = _ivf_centroid_set(v)
    qset = _query_set(v)  # bounded N_QUERIES rows: safe to broadcast

    def argmax_centroids(side: DataFrame, id_col: str, keep: int) -> DataFrame:
        return _ivf_argmax(cent, side, id_col, keep)

    assign = argmax_centroids(v, "vec_id", keep=1)
    probe = argmax_centroids(
        qset.select(
            "query_id",
            F.col("q_emb").alias("emb"),
            F.col("q_nrm").alias("nrm"),
        ),
        "query_id",
        keep=N_PROBE,
    )
    c_emb = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        probe.join(assign, "centroid_id")
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .where(F.col("cand_id") != F.col("query_id"))
        # round 6: broadcast the BOUNDED query set, not an O(N)
        # projection of the whole corpus (the r5 plan broadcast all of
        # v's rows here even though only the queries survive the join)
        .join(F.broadcast(qset), "query_id")
        .join(c_emb, "cand_id")
        .select(
            "query_id",
            "cand_id",
            _pair_cos("q_emb", "q_nrm", "c_emb", "c_nrm").alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH near-dup pairs. Hyperplane i component j is the
# integer-arithmetic pseudo-random constant
#   ((i*DIM + j + 1) * 2654435761 mod 2^32) / 2^31 - 1   in [-1, 1)
# computed identically by both engines (exact int ops, one division).
def _hyperplane_values(i: int) -> list[float]:
    """Exact Python evaluation of the hyperplane formula: integer ops are
    arbitrary-precision, the single division and subtraction are the same
    IEEE ops Spark/DuckDB perform - bit-identical across all three."""
    return [
        ((i * _DIM + j + 1) * 2654435761) % 4294967296 / 2147483648.0 - 1.0
        for j in range(_DIM)
    ]


def _spark_hyperplane(i: int) -> Column:
    # literal array, not transform(sequence(...)): a per-row recomputation
    # of 16 x 64 constants is pure waste inside the row loop
    return F.array(*[F.lit(x) for x in _hyperplane_values(i)])


def _duck_hyperplane(i: int) -> str:
    return (
        f"list_transform(generate_series(0, {_DIM - 1}), j -> "
        f"CAST((({i} * {_DIM} + j + 1) * 2654435761) % 4294967296 AS DOUBLE)"
        f" / 2147483648.0 - 1.0)"
    )


def _spark_bucket(emb: Column) -> Column:
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(emb, _spark_hyperplane(i), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i in range(_SIG_BITS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("bigint")


def _duck_bucket(emb: str) -> str:
    terms = [
        f"(CASE WHEN list_sum(list_transform(list_zip({emb}, {_duck_hyperplane(i)}),"
        f" s -> s[1] * s[2])) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIG_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def near_dup_pairs(
    v: DataFrame, tau: float | None = NEAR_DUP_TAU
) -> DataFrame:
    """Core LSH near-dup: v must have (vec_id, emb: array<double>).
    Reused by tests with planted duplicates; the fixture's own answer at
    tau=0.9 is empty (near-uniform sphere). tau=None returns the RAW
    bucket-pair enumeration (no score predicate, no presentation sort)
    for the threshold sweep - a sentinel like tau=-1.0 is not
    equivalent: a zero-norm vector scores NaN, and Spark's NaN >= -1.0
    is true while DuckDB's histogram cast on NaN errors, so the only
    cross-engine-safe sweep input is the unfiltered pair set
    (r9 review).

    The signature table carries each vector's l2 norm so the verify join
    multiplies two scalars per pair instead of re-folding both arrays
    (norms are per-VECTOR work, not per-PAIR - the distinction that
    matters when a hot bucket holds b vectors and b^2/2 pairs); the same
    IEEE ops still run per pair (dot, norm product, divide), so scores
    are bit-identical to the inline-cosine form and the oracle. sig is
    persisted across its self-join sides (16x64 multiply-adds per row
    would otherwise run twice)."""
    from pyspark.storagelevel import StorageLevel

    from ..functions import dot, l2_norm

    sig = caches.persist(
        v.select(
            "vec_id",
            "emb",
            _spark_bucket(F.col("emb")).alias("bucket"),
            l2_norm(F.col("emb")).alias("nrm"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    score = dot(F.col("x.emb"), F.col("y.emb")) / (
        F.col("x.nrm") * F.col("y.nrm")
    )
    cand = (
        sig.alias("x")
        .join(
            sig.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            score.alias("score"),
        )
    )
    if tau is None:
        return cand
    return cand.where(F.col("score") >= tau).orderBy("vec_a", "vec_b")


@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    sig AS (SELECT vec_id, emb, {_duck_bucket('emb')} AS bucket FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_OCOS} AS score
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_OCOS} >= {NEAR_DUP_TAU}
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Int8 vector quantization: per-vector absmax scaling (q = round(x*127/s),
# s = max|x|), the storage-compression step an embedding store runs before
# ANN indexing (4x smaller than float32, 8x than the double math above).
# Emitted exploded as (vec_id, dim_idx, q_val) + the per-vector scale so
# the driver's value-hash covers every component, not an opaque array.
#
# Scale notes (100 TB): pure per-row projection + posexplode fan-out -
# embarrassingly parallel, no shuffle at all before the output sort (which
# exists only for the deterministic driver hash; a production writer would
# keep the quantized array packed, one row per vector, unsorted).
@query(
    "embedding_quantize_int8",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM base
    )
    SELECT vec_id, scale, i - 1 AS dim_idx,
           CASE WHEN scale = 0 THEN 0
                ELSE CAST(round(v[i] * 127 / scale) AS BIGINT) END AS q_val
    FROM scaled, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    ORDER BY vec_id, dim_idx
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    base = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform(v, F.abs)).alias("scale"),
    )
    q = F.transform(
        "v",
        lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("bigint")).otherwise(
            F.round(x * 127 / F.col("scale")).cast("bigint")
        ),
    )
    # no output sort: per-dimension fan-out of every vector; the plan is
    # shuffle-free without it and the driver hash is order-insensitive
    return base.select(
        "vec_id", "scale", F.posexplode(q).alias("dim_idx", "q_val")
    )


# ---------------------------------------------------------------------------
# L2 normalization to unit vectors via higher-order array functions -
# the standard pre-step before cosine ANN indexing (unit vectors turn
# cosine into a plain dot product). transform/aggregate are JVM-side
# lambda expressions: zero shuffle, zero Python. The sum of squares is a
# sequential left fold over the array in index order; DuckDB's list_sum
# folds the same order, so norms are bit-identical (same contract as
# functions.dot, verified by the cosine family).
@query(
    "embedding_l2_normalize",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS l2_norm
        FROM base
    )
    SELECT vec_id, l2_norm, i - 1 AS dim_idx,
           CASE WHEN l2_norm = 0 THEN 0.0 ELSE v[i] / l2_norm END AS unit_val
    FROM n, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
    ORDER BY vec_id, dim_idx
    """,
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    ssq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x * x
    )
    base = emb.select("vec_id", v.alias("v"), F.sqrt(ssq).alias("l2_norm"))
    unit = F.transform(
        "v",
        lambda x: F.when(F.col("l2_norm") == 0, F.lit(0.0)).otherwise(
            x / F.col("l2_norm")
        ),
    )
    # no output sort: per-dimension fan-out of every vector; the plan is
    # shuffle-free without it and the driver hash is order-insensitive
    return base.select(
        "vec_id", "l2_norm", F.posexplode(unit).alias("dim_idx", "unit_val")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: for each query vector, the top-k most-similar
# vectors with a DIFFERENT label - the training-pair builder for
# retrieval/embedding models (contrastive learning needs negatives that
# are hard, i.e. semantically close but wrong-class). Same fixed
# 64-query set and scoring base as topk_similar_per_query; the label
# inequality rides the join condition, so wrong-label candidates are
# never scored at all.
#
# Scale notes (100 TB): identical shape to the brute-force top-k -
# bounded query broadcast, one streaming pass over the corpus, per-query
# top-k window on a 64-way key; the IVF path scales it the same way it
# scales plain top-k.
@query(
    "hard_negative_mining",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
               FROM embeddings),
    q AS (SELECT vec_id, label, emb FROM v
          ORDER BY {_Q_H_DUCK}, vec_id LIMIT {N_QUERIES}),
    scored AS (
        SELECT a.vec_id AS query_id, a.label AS query_label,
               b.vec_id AS neg_id, b.label AS neg_label,
               {_OCOS} AS score,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_OCOS} DESC, b.vec_id
               ) AS rank
        FROM q a JOIN v b ON b.vec_id != a.vec_id AND b.label != a.label
    )
    SELECT query_id, query_label, neg_id, neg_label, score, rank
    FROM scored WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import l2_norm
    from ..tables import widen_small_scan

    v = widen_small_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", vec_double("embedding").alias("emb")
        )
    ).withColumn("nrm", l2_norm(F.col("emb")))
    queries = (
        v.orderBy(F.expr(_Q_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    cands = v.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        F.broadcast(queries)
        .join(
            cands,
            (F.col("neg_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("query_label")),
        )
        .select(
            "query_id",
            "query_label",
            "neg_id",
            "neg_label",
            _pair_cos("q_emb", "q_nrm", "c_emb", "c_nrm").alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "neg_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Per-dimension corpus statistics: the feature-normalization precompute
# (mean/min/max per embedding dimension) every whitening / scalar-quantize
# step needs before touching a vector corpus. posexplode fans each vector
# into (dim, value) pairs JVM-side - no Python, no Pandas - and one
# groupBy(dim) reduces them; the shuffle carries exactly D * n_partitions
# partial rows after map-side combine, so at 100 TB the exchange is a few
# KB regardless of corpus size (D is the model's embedding width, a
# constant). Means use integer micro-units, not the decimal contract:
# float32 values land exactly on decimal half-ties where Spark's and
# DuckDB's double->decimal casts disagree (see label_centroids).
@query(
    "embedding_dim_stats",
    oracle="""
    SELECT dim,
           CAST(CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000000.0 + 0.5)
                         AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / (1000000000.0 * count(*)) AS dim_mean,
           CAST(min(val) AS DOUBLE) AS dim_min,
           CAST(max(val) AS DOUBLE) AS dim_max,
           count(*) AS n_vals
    FROM (
        SELECT unnest(range(len(embedding))) AS dim,
               unnest(embedding) AS val
        FROM embeddings
    )
    GROUP BY dim
    ORDER BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(vec_double("embedding")).alias("dim", "val")
    )
    micro = F.floor(F.col("val") * 1e9 + F.lit(0.5)).cast("decimal(38,0)")
    return (
        vecs.groupBy("dim")
        .agg(
            (F.sum(micro).cast("double") / (F.lit(1e9) * F.count("*"))).alias("dim_mean"),
            F.min("val").alias("dim_min"),
            F.max("val").alias("dim_max"),
            F.count("*").alias("n_vals"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF path against the exact
# brute-force baseline, per query vector. This is the harness that
# answers "is nprobe/C tuned right?" before a 100 TB index build - run
# it on a sampled slice, read avg recall, adjust. Composes the two
# registered pipelines (both deterministic) and joins their top-k sets:
# the join keys are (query_id, cand_id) pairs from two bounded results
# (<= N_QUERIES * TOP_K rows each), so the comparison itself costs
# nothing next to the searches. recall denominator is TOP_K even when
# IVF's probed cells surface fewer candidates - missing rows are
# misses, the standard definition.
_RECALL_DEN = float(TOP_K)


@query(
    "ann_recall_eval",
    oracle=None,  # assigned immediately below from the composed CTEs
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = topk_similar_per_query(spark, sf_dir).select(
        "query_id", F.col("cand_id").alias("bf_cand")
    )
    ivf = ivf_topk_similar(spark, sf_dir).select(
        F.col("query_id").alias("i_query_id"), F.col("cand_id").alias("ivf_cand")
    )
    hits = bf.join(
        ivf,
        (bf.query_id == ivf.i_query_id) & (bf.bf_cand == ivf.ivf_cand),
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count("bf_cand").alias("n_exact"),
            F.count("ivf_cand").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(_RECALL_DEN)).alias(
                "recall_at_k"
            ),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# The oracle reuses the two registered oracle texts verbatim as CTEs, so
# the eval's ground truth can never drift from the searches it grades.
from ..registry import ORACLES as _OR  # noqa: E402

_OR["ann_recall_eval"] = f"""
WITH bf AS ({_OR["topk_similar_per_query"]}),
     ivf AS ({_OR["ivf_topk_similar"]})
SELECT bf.query_id,
       count(bf.cand_id) AS n_exact,
       count(ivf.cand_id) AS n_hits,
       CAST(count(ivf.cand_id) AS DOUBLE) / {_RECALL_DEN} AS recall_at_k
FROM bf LEFT JOIN ivf
  ON bf.query_id = ivf.query_id AND bf.cand_id = ivf.cand_id
GROUP BY bf.query_id
ORDER BY bf.query_id
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress each vector to M subspace codes —
# the memory-side half of a production ANN index (IVF above is the
# compute-side half; IVF-PQ composes the two). Each 64-dim vector splits
# into M=8 contiguous 8-dim subvectors; each subvector is assigned to
# the nearest of K=16 codebook entries by squared L2 distance, giving an
# 8-byte code per vector plus a reconstruction-error diagnostic.
#
# Codebooks are FIXED-COUNT md5-hash-order sample picks (the kmeans/IVF
# seed rule): K vectors chosen by hash of a salted vec_id, code = rank
# in that order — a pure function of the ids, constant size at any
# corpus N, so the codebook broadcast is bounded. (Production would
# Lloyd-refine each subspace codebook; the assignment plan — the scale
# path — is identical, and sampled codebooks keep the operator
# deterministic and oracle-mirrored end to end.)
#
# Scale shape: one broadcast of K rows, N*K distance rows reduced by a
# map-side-combinable min-struct agg keyed vec_id — no shuffle of the
# corpus itself, total work O(N*K*D). Distances and the error sum are
# fixed-order IEEE folds (bit-identical to DuckDB's sequential
# list_sum); the error is quantized to integer micro-units ONCE at
# output (float32-derived values sit exactly on decimal half-ties, so
# the decimal-cast contract would diverge — see functions.dsum).
_PQ_M = 8  # subspaces
_PQ_SUB = _DIM // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace
_PQ_H_SPARK = _SPARK_H32.format(s="concat('pqc-', cast(vec_id as string))")
_PQ_H_DUCK = _DUCK_H32.format(s="concat('pqc-', CAST(vec_id AS VARCHAR))")


def _pq_sq_dist_spark(m: int) -> Column:
    """Squared L2 distance between subspace m of emb and cb_emb."""
    lo = m * _PQ_SUB + 1
    return sq_l2(f"slice(emb, {lo}, {_PQ_SUB})", f"slice(cb_emb, {lo}, {_PQ_SUB})")


def _pq_sq_dist_duck(m: int | str, a: str = "a.emb", b: str = "c.emb") -> str:
    """DuckDB twin of _pq_sq_dist_spark over subspace m (a number or an
    integer column) of the vectors a and b."""
    lo, hi = f"{m} * {_PQ_SUB} + 1", f"{m} * {_PQ_SUB} + {_PQ_SUB}"
    return oracle_sq_l2(f"list_slice({a}, {lo}, {hi})", f"list_slice({b}, {lo}, {hi})")


def _pq_oracle() -> str:
    dist_cols = ",\n               ".join(
        f"{_pq_sq_dist_duck(m)} AS d{m}" for m in range(_PQ_M)
    )
    min_cols = ",\n               ".join(
        f"min(struct_pack(d := d{m}, c := code)) AS m{m}" for m in range(_PQ_M)
    )
    code_list = ", ".join(f"struct_extract(m{m}, 'c')" for m in range(_PQ_M))
    err_sum = " + ".join(f"struct_extract(m{m}, 'd')" for m in range(_PQ_M))
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    picked AS (
        SELECT vec_id, emb, {_PQ_H_DUCK} AS h FROM v
        ORDER BY h, vec_id LIMIT {_PQ_K}
    ),
    cb AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
                   AS code,
               emb
        FROM picked
    ),
    pairs AS (
        SELECT a.vec_id, c.code,
               {dist_cols}
        FROM v a CROSS JOIN cb c
    ),
    mins AS (
        SELECT vec_id,
               {min_cols}
        FROM pairs GROUP BY vec_id
    )
    SELECT vec_id,
           [{code_list}] AS pq_code,
           CAST(floor(({err_sum}) * 1000000 + 0.5) AS BIGINT) AS err_micro
    FROM mins
    """


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K-row (code, cb_emb) codebook — the single definition of the
    salt/K/tie-break rule, shared by the encoder and the ADC LUT so the
    two can never decode against different codebooks. The row_number
    ranks the K-row post-limit relation (not the corpus), so the global
    window is safe — its input is already bounded."""
    return (
        _emb(spark, sf_dir)
        .withColumn("h", F.expr(_PQ_H_SPARK))
        .orderBy("h", "vec_id")
        .limit(_PQ_K)
        .withColumn(
            "code",
            (F.row_number().over(W.orderBy("h", "vec_id")) - 1).cast("int"),
        )
        .select("code", F.col("emb").alias("cb_emb"))
    )


# Array-form oracle SQL for the PQ code table: embedded by the ADC /
# IVF-PQ oracles (which unnest pq_code); the REGISTERED oracle below
# wraps it into the scalar-CSV contract (the driver canonicalizer
# cannot hash array cells - the r6 term_posting_lists fail class).
_PQ_ENCODE_ARRAY_SQL = _pq_oracle()


def _pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal array-form PQ encoder: (vec_id, pq_code array<int>,
    err_micro). ADC/IVF-PQ consume this; the registered query wraps it."""
    from ..tables import widen_small_scan

    v = widen_small_scan(_emb(spark, sf_dir))
    codebook = _pq_codebook(spark, sf_dir)
    pairs = v.crossJoin(F.broadcast(codebook)).select(
        "vec_id",
        "code",
        *[_pq_sq_dist_spark(m).alias(f"d{m}") for m in range(_PQ_M)],
    )
    mins = pairs.groupBy("vec_id").agg(
        *[
            F.min(
                F.struct(F.col(f"d{m}").alias("d"), F.col("code").alias("c"))
            ).alias(f"m{m}")
            for m in range(_PQ_M)
        ]
    )
    err = sum(
        (F.col(f"m{m}").getField("d") for m in range(_PQ_M)), start=F.lit(0.0)
    )
    return mins.select(
        "vec_id",
        F.array(
            *[F.col(f"m{m}").getField("c") for m in range(_PQ_M)]
        ).alias("pq_code"),
        F.floor(err * F.lit(1_000_000) + F.lit(0.5)).cast("bigint").alias(
            "err_micro"
        ),
    )


@query(
    "pq_encode_embeddings",
    oracle=f"""
    WITH pq AS ({_PQ_ENCODE_ARRAY_SQL})
    SELECT vec_id,
           array_to_string(pq_code, ',') AS pq_code_csv,
           err_micro
    FROM pq
    """,
)
def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered contract: the per-vector PQ code as a scalar CSV (codes
    are subspace-ordered, so the join is positional and deterministic)."""
    return _pq_encode(spark, sf_dir).select(
        "vec_id",
        F.array_join(F.col("pq_code").cast("array<string>"), ",").alias(
            "pq_code_csv"
        ),
        "err_micro",
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC) + recall eval: the query side of
# product quantization. Each query vector precomputes a distance lookup
# table — LUT[m][code] = squared L2 between the query's m-th subvector
# and codebook entry `code` — and a candidate's approximate distance is
# then just the SUM of 8 table lookups selected by its stored code,
# never touching the original vector. Graded per query as recall@5
# against the exact L2 top-5 computed inline (L2, not the cosine
# baseline above — ADC approximates L2, so that is the fair yardstick).
#
# Scale shape: the LUT is |queries| x M x K = 64*8*16 = 8192 rows —
# query-batch-sized, broadcast; the candidate side is the PQ code table
# exploded to N*M rows (narrow ints, no vectors), hash-joined against
# the LUT and reduced by a map-side-combinable sum keyed
# (query, candidate). The corpus's float vectors are read by the exact
# baseline only; a production index would store codes alone — this is
# the memory win PQ exists for. ADC sums are integer micro-units
# (a grouped float sum is partitioning-order-dependent; quantizing the
# 8 LUT terms first makes the sum exact, so ranks can't flip
# cross-engine), with (distance, cand_id) total-order tie-breaks.
#
# Expected numbers on THESE fixtures: avg recall ~0.08-0.12. The fixture
# vectors are near-uniform on the sphere (module docstring) — the known
# adversarial case for PQ, where 16-entry sampled codebooks capture
# little variance. That is the measurement, not a defect: the harness
# exists to read exactly this number before sizing K/M for a real
# corpus, where clusterable structure pushes recall far higher.
_ADC_K = 5


# Shared oracle fragments for the two ADC consumers (recall eval below,
# IVF-PQ composition after it): one definition of the query set, the
# codebook, the per-query LUT, and the exploded candidate codes.
def _adc_shared_ctes() -> str:
    lut_dist = _pq_sq_dist_duck("m", "q.emb", "c.emb")
    return f"""pq AS ({_PQ_ENCODE_ARRAY_SQL}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb FROM v
          ORDER BY {_Q_H_DUCK.replace("vec_id", "v.vec_id")}, v.vec_id
          LIMIT {N_QUERIES}),
    picked AS (
        SELECT vec_id, emb, {_PQ_H_DUCK} AS h FROM v
        ORDER BY h, vec_id LIMIT {_PQ_K}
    ),
    cb AS (
        SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
                   AS code, emb
        FROM picked
    ),
    lut AS (
        SELECT q.query_id, mm.m, c.code,
               CAST(floor({lut_dist} * 1000000000 + 0.5) AS BIGINT) AS d_micro
        FROM q
        CROSS JOIN (SELECT CAST(unnest(range({_PQ_M})) AS INTEGER) AS m) mm
        CROSS JOIN cb c
    ),
    cand_codes AS (
        SELECT vec_id AS cand_id,
               CAST(unnest(range({_PQ_M})) AS INTEGER) AS m,
               unnest(pq_code) AS code
        FROM pq
    )"""


def _adc_oracle() -> str:
    exact_dist = oracle_sq_l2("q.emb", "v.emb")
    return f"""
    WITH {_adc_shared_ctes()},
    adc AS (
        SELECT l.query_id, cc.cand_id,
               CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
        FROM cand_codes cc
        JOIN lut l ON l.m = cc.m AND l.code = cc.code
        GROUP BY 1, 2
    ),
    approx AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_micro, cand_id
            ) AS rnk
            FROM adc WHERE cand_id <> query_id
        ) WHERE rnk <= {_ADC_K}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.query_id, v.vec_id AS cand_id, row_number() OVER (
                PARTITION BY q.query_id ORDER BY {exact_dist}, v.vec_id
            ) AS rnk
            FROM q JOIN v ON v.vec_id <> q.query_id
        ) WHERE rnk <= {_ADC_K}
    )
    SELECT e.query_id,
           CAST(count(a.cand_id) AS BIGINT) AS n_hits,
           CAST(count(a.cand_id) AS DOUBLE) / {_ADC_K} AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    GROUP BY e.query_id
    """


def _adc_query_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, q_emb): the same fixed query pick as _query_set, raw
    vectors only (ADC needs no norms)."""
    return (
        _emb(spark, sf_dir)
        .orderBy(F.expr(_Q_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"))
    )


def _adc_lut_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, m, code, d_micro): the per-query subspace-distance
    lookup table — |queries| x M x K rows, broadcast-sized by
    construction. The per-(query, code) row computes all M subspace
    distances, stacked to rows JVM-side."""
    return (
        _adc_query_set(spark, sf_dir)
        .withColumnRenamed("q_emb", "emb")
        .crossJoin(F.broadcast(_pq_codebook(spark, sf_dir)))
        .select(
            "query_id",
            "code",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.floor(
                                _pq_sq_dist_spark(m) * F.lit(1_000_000_000)
                                + F.lit(0.5)
                            )
                            .cast("bigint")
                            .alias("d_micro"),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("e"),
        )
        .select("query_id", F.col("e.m").alias("m"), "code", "e.d_micro")
    )


def _cand_code_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cand_id, m, code): each vector's stored PQ code exploded to one
    row per subspace — narrow ints, no vectors."""
    return (
        _pq_encode(spark, sf_dir)
        .select(
            F.col("vec_id").alias("cand_id"),
            F.posexplode("pq_code").alias("m", "code"),
        )
        .withColumn("m", F.col("m").cast("int"))
    )


@query("pq_adc_recall_eval", oracle=_adc_oracle())
def pq_adc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import widen_small_scan

    v = widen_small_scan(_emb(spark, sf_dir))
    queries = _adc_query_set(spark, sf_dir)
    adc = (
        _cand_code_rows(spark, sf_dir)
        .join(F.broadcast(_adc_lut_rows(spark, sf_dir)), ["m", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w_a = W.partitionBy("query_id").orderBy("adc_micro", "cand_id")
    approx = (
        adc.where(F.col("cand_id") != F.col("query_id"))
        .withColumn("rnk", F.row_number().over(w_a))
        .where(F.col("rnk") <= _ADC_K)
        .select("query_id", F.col("cand_id").alias("a_cand"))
    )
    exact_dist = sq_l2("q_emb", "c_emb")
    cands = v.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("c_emb"))
    w_e = W.partitionBy("query_id").orderBy("dist", "cand_id")
    exact = (
        F.broadcast(queries)
        .join(cands, F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", exact_dist.alias("dist"))
        .withColumn("rnk", F.row_number().over(w_e))
        .where(F.col("rnk") <= _ADC_K)
        .select("query_id", "cand_id")
    )
    return (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.cand_id == approx.a_cand),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(F.count("a_cand").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(float(_ADC_K))).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed search: the production ANN layout — IVF routing picks
# WHICH candidates to look at (nprobe nearest cells per query, the
# compute side), PQ codes decide HOW each candidate is scored (sum of
# LUT lookups, the memory side). Composes the registered pieces through
# the shared helpers, so routing is bit-identical to ivf_topk_similar
# and scoring bit-identical to pq_adc_recall_eval: cells and probes by
# cosine argmax against the broadcast centroid set, then ONLY the
# probed cells' members explode their codes and join the broadcast
# per-query LUT — the corpus's float vectors never reach the scoring
# join, and the candidate volume shrinks ~C/nprobe-fold before any ADC
# work happens. Integer micro-unit sums keep ranks cross-engine exact;
# output is the top-5 per query by (adc_micro, cand_id).
def _ivfpq_oracle() -> str:
    ocos = oracle_cosine("a.emb", "b.emb")
    return f"""
    WITH {_adc_shared_ctes()},
    cent AS (SELECT vec_id AS centroid_id, emb FROM v
             ORDER BY {_C_H_DUCK}, vec_id LIMIT {N_CENTROIDS}),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT a.vec_id, b.centroid_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {ocos} DESC, b.centroid_id
                   ) AS rn
            FROM v a CROSS JOIN cent b
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, centroid_id FROM (
            SELECT a.query_id, b.centroid_id,
                   row_number() OVER (
                       PARTITION BY a.query_id
                       ORDER BY {ocos} DESC, b.centroid_id
                   ) AS rn
            FROM q a CROSS JOIN cent b
        ) WHERE rn <= {N_PROBE}
    ),
    cands AS (
        SELECT p.query_id, s.vec_id AS cand_id
        FROM probe p
        JOIN assign s ON s.centroid_id = p.centroid_id
        WHERE s.vec_id <> p.query_id
    ),
    adc AS (
        SELECT cd.query_id, cd.cand_id,
               CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
        FROM cands cd
        JOIN cand_codes cc ON cc.cand_id = cd.cand_id
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.m = cc.m AND l.code = cc.code
        GROUP BY 1, 2
    )
    SELECT query_id, cand_id, adc_micro, rank FROM (
        SELECT query_id, cand_id, adc_micro,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_micro, cand_id
               ) AS rank
        FROM adc
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("ivfpq_topk_similar", oracle=_ivfpq_oracle())
def ivfpq_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    v = caches.persist(_emb_n(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    cent = _ivf_centroid_set(v)
    qset = _query_set(v)
    assign = _ivf_argmax(cent, v, "vec_id", keep=1)
    probe = _ivf_argmax(
        cent,
        qset.select(
            "query_id",
            F.col("q_emb").alias("emb"),
            F.col("q_nrm").alias("nrm"),
        ),
        "query_id",
        keep=N_PROBE,
    )
    cands = (
        probe.join(assign, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
    )
    adc = (
        cands.join(_cand_code_rows(spark, sf_dir), "cand_id")
        .join(
            F.broadcast(_adc_lut_rows(spark, sf_dir)),
            ["query_id", "m", "code"],
        )
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = W.partitionBy("query_id").orderBy("adc_micro", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "adc_micro", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation recall: how much of the exact full-dim top-k
# ranking survives when vectors are truncated to their first 8 / 16
# dims - the evaluation behind Matryoshka-representation deployment
# ("can we serve the 16-dim prefix and keep recall?") and the
# dimension-budget twin of ann_recall_eval (which grades the INDEX;
# this grades the REPRESENTATION). One broadcast pass scores every
# (query, candidate) pair under all three metrics at once - full-dim,
# d=8, d=16 cosine over array prefixes - then three row_number ranks
# share a single query_id exchange, and recall@k per truncation is the
# overlap of each truncated top-k with the full-dim top-k.
#
# Determinism: prefix slices/norms are the same IEEE fold both engines
# (functions.dot order); ranks carry the cand_id tiebreak; recalls are
# one division of exact integers by the TOP_K constant.
#
# Scale notes (100 TB): prefix embeddings + norms are per-VECTOR
# projections computed before the pair join (the _emb_n lesson); the
# corpus never shuffles until the per-query window, and the window
# input carries rank-filter prunes (WindowGroupLimit) per metric.
_MAT_DIMS = (8, 16)


def _mat_oracle() -> str:
    from ..functions import oracle_cosine

    cos_full = oracle_cosine("a.emb", "b.emb")
    cos = {
        d: oracle_cosine(f"a.emb[1:{d}]", f"b.emb[1:{d}]") for d in _MAT_DIMS
    }
    hit = lambda d: (  # noqa: E731
        f"CAST(sum(CASE WHEN r{d} <= {TOP_K} AND rf <= {TOP_K}"
        f" THEN 1 ELSE 0 END) AS BIGINT)"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id, emb FROM v
          ORDER BY {_Q_H_DUCK}, vec_id LIMIT {N_QUERIES}),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY {cos_full} DESC, b.vec_id) AS rf,
               {", ".join(
                   f"row_number() OVER (PARTITION BY a.vec_id"
                   f" ORDER BY {cos[d]} DESC, b.vec_id) AS r{d}"
                   for d in _MAT_DIMS
               )}
        FROM q a JOIN v b ON b.vec_id != a.vec_id
    )
    SELECT query_id,
           {", ".join(
               f"{hit(d)} AS n_hits_d{d},"
               f" CAST({hit(d)} AS DOUBLE) / {float(TOP_K)} AS recall_d{d}"
               for d in _MAT_DIMS
           )}
    FROM scored GROUP BY query_id
    """


@query("matryoshka_recall_eval", oracle=_mat_oracle())
def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import l2_norm

    v = _emb_n(spark, sf_dir)
    ext = v.select(
        "vec_id",
        "emb",
        "nrm",
        *[
            c
            for d in _MAT_DIMS
            for c in (
                F.slice("emb", 1, d).alias(f"e{d}"),
                l2_norm(F.slice("emb", 1, d)).alias(f"nrm{d}"),
            )
        ],
    )
    queries = (
        ext.orderBy(F.expr(_Q_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            *[
                c
                for d in _MAT_DIMS
                for c in (
                    F.col(f"e{d}").alias(f"q_e{d}"),
                    F.col(f"nrm{d}").alias(f"q_nrm{d}"),
                )
            ],
        )
    )
    cands = ext.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        *[
            c
            for d in _MAT_DIMS
            for c in (
                F.col(f"e{d}").alias(f"c_e{d}"),
                F.col(f"nrm{d}").alias(f"c_nrm{d}"),
            )
        ],
    )
    scored = (
        F.broadcast(queries)
        .join(cands, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            _pair_cos("q_emb", "q_nrm", "c_emb", "c_nrm").alias("s_full"),
            *[
                _pair_cos(f"q_e{d}", f"q_nrm{d}", f"c_e{d}", f"c_nrm{d}").alias(
                    f"s{d}"
                )
                for d in _MAT_DIMS
            ],
        )
    )
    wq = W.partitionBy("query_id")
    ranked = scored.select(
        "query_id",
        F.row_number()
        .over(wq.orderBy(F.desc("s_full"), "cand_id"))
        .alias("rf"),
        *[
            F.row_number()
            .over(wq.orderBy(F.desc(f"s{d}"), "cand_id"))
            .alias(f"r{d}")
            for d in _MAT_DIMS
        ],
    )
    hit = lambda d: F.sum(  # noqa: E731
        F.when((F.col(f"r{d}") <= TOP_K) & (F.col("rf") <= TOP_K), 1).otherwise(0)
    ).cast("bigint")
    return ranked.groupBy("query_id").agg(
        *[
            c
            for d in _MAT_DIMS
            for c in (
                hit(d).alias(f"n_hits_d{d}"),
                (hit(d).cast("double") / F.lit(float(TOP_K))).alias(
                    f"recall_d{d}"
                ),
            )
        ]
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift: compare the mean vector of two corpus
# snapshots (stand-in split: even vs odd vec_id; production feeds the
# previous and current ingest batches) - the embedding-space drift
# monitor that catches encoder upgrades, topical shift, or pipeline
# regressions before they poison ANN indexes. Emits centroid cosine,
# L2 shift, and the single most-shifted dimension.
#
# Determinism: per-dim means follow the label_centroids integer
# micro-unit contract, then RE-QUANTIZE (floor(mv*1e9+0.5) - identical
# IEEE both engines) so every cross-dim reduction (dot, norms, L2) is an
# EXACT integer sum - a direct sum of per-dim double products would be
# partition-order-dependent. Exact integers convert once to double with
# correct rounding (moments exceed 2^53: native on Spark, VARCHAR hop on
# the oracle), then identical sqrt/division sequences. The argmax
# dimension rides the (|shift| DESC, dim) total order.
#
# Scale notes (100 TB): posexplode -> ONE (half, dim) shuffle with
# map-side partials (no vector crosses the wire whole); everything after
# runs on the bounded 2 x n_dims relation.
def _drift_oracle() -> str:
    from ..functions import oracle_exact_double as xd

    return f"""
    WITH pe AS (
        SELECT vec_id % 2 AS half, g.i - 1 AS dim,
               CAST(floor(emb[g.i] * 1000000000.0 + 0.5) AS HUGEINT) AS u9
        FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) v,
             LATERAL (SELECT unnest(generate_series(1, len(v.emb))) AS i) g
    ),
    m AS (
        SELECT half, dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(CAST(sum(u9) AS VARCHAR) AS DOUBLE) / (1000000000.0 * count(*)) AS mv
        FROM pe GROUP BY 1, 2
    ),
    q AS (SELECT half, dim, n,
                 CAST(floor(mv * 1000000000.0 + 0.5) AS HUGEINT) AS m9
          FROM m),
    j AS (
        SELECT a.dim, a.m9 AS ma, b.m9 AS mb, a.n AS n_a, b.n AS n_b
        FROM q a JOIN q b ON a.dim = b.dim AND a.half = 0 AND b.half = 1
    ),
    mom AS (
        SELECT max(n_a) AS n_a, max(n_b) AS n_b,
               sum(ma * mb) AS sxy, sum(ma * ma) AS sxx,
               sum(mb * mb) AS syy,
               sum((ma - mb) * (ma - mb)) AS sd2
        FROM j
    ),
    top AS (
        SELECT dim, abs(ma - mb) AS d9,
               row_number() OVER (ORDER BY abs(ma - mb) DESC, dim) AS rn
        FROM j
    )
    SELECT mom.n_a, mom.n_b,
           {xd('sxy')} / (sqrt({xd('sxx')}) * sqrt({xd('syy')}))
               AS cos_centroids,
           sqrt({xd('sd2')}) / 1e9 AS l2_shift,
           top.dim AS max_shift_dim,
           CAST(CAST(top.d9 AS VARCHAR) AS DOUBLE) / 1e9 AS max_shift
    FROM mom CROSS JOIN top WHERE top.rn = 1
    """


@query("embedding_centroid_drift", oracle=_drift_oracle())
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import widen_small_scan

    emb_scan = load_table(spark, sf_dir, "embeddings")
    pe = widen_small_scan(
        emb_scan.select(
            (F.col("vec_id") % 2).alias("half"),
            vec_double("embedding").alias("emb"),
        )
    ).select("half", F.posexplode("emb").alias("dim", "val"))
    u9 = F.floor(
        F.col("val") * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("decimal(38,0)")
    m = pe.groupBy("half", "dim").agg(
        F.count("*").alias("n"),
        (
            F.sum(u9).cast("double")
            / (F.lit(1_000_000_000.0) * F.count("*"))
        ).alias("mv"),
    )
    # Scale-gated persist (r17): the explode+agg subtree is re-run 4x
    # per plan. At fixture scale an unconditional persist LOST (r16 A/B
    # min-of-3 0.85s -> 0.99s: the branches ride idle cores); at corpus
    # scale 4 full explode passes are pure added work, so the bounded
    # (2 x dims) moment grid persists once the scan fills the cores.
    m = caches.persist_when_scaled(m, emb_scan)
    q = m.select(
        "half",
        "dim",
        "n",
        F.floor(F.col("mv") * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("m9"),
    )
    a = q.where(F.col("half") == 0).select(
        "dim", F.col("m9").alias("ma"), F.col("n").alias("n_a")
    )
    b = q.where(F.col("half") == 1).select(
        "dim", F.col("m9").alias("mb"), F.col("n").alias("n_b")
    )
    j = a.join(b, "dim")
    mom = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        # r12: cast one factor BEFORE the product - m9 means reach ~3e9
        # for unnormalized embeddings, putting the raw-bigint square at
        # the int64 edge (single-row overflow class); accumulation then
        # stays decimal end-to-end.
        F.sum(F.col("ma").cast("decimal(38,0)") * F.col("mb")).alias("sxy"),
        F.sum(F.col("ma").cast("decimal(38,0)") * F.col("ma")).alias("sxx"),
        F.sum(F.col("mb").cast("decimal(38,0)") * F.col("mb")).alias("syy"),
        F.sum(
            (F.col("ma") - F.col("mb")).cast("decimal(38,0)")
            * (F.col("ma") - F.col("mb"))
        ).alias("sd2"),
    )
    wt = W.orderBy(F.abs(F.col("ma") - F.col("mb")).desc(), "dim")
    top = (
        j.select(
            "dim",
            F.abs(F.col("ma") - F.col("mb")).alias("d9"),
            F.row_number().over(wt).alias("rn"),
        )
        .where(F.col("rn") == 1)
    )
    return mom.join(F.broadcast(top)).select(
        "n_a",
        "n_b",
        (
            F.col("sxy").cast("double")
            / (
                F.sqrt(F.col("sxx").cast("double"))
                * F.sqrt(F.col("syy").cast("double"))
            )
        ).alias("cos_centroids"),
        (F.sqrt(F.col("sd2").cast("double")) / F.lit(1e9)).alias(
            "l2_shift"
        ),
        F.col("dim").alias("max_shift_dim"),
        (F.col("d9").cast("double") / F.lit(1e9)).alias("max_shift"),
    )


_U9_SIL = "CAST(floor({v} * 1000000000.0 + 0.5) AS HUGEINT)"


# ---------------------------------------------------------------------------
# Simplified silhouette per label (centroid silhouette): for each vector,
# a = L2 distance to its OWN label centroid, b = distance to the nearest
# OTHER label centroid, s = (b - a) / max(a, b); report the per-label
# mean and the share of negative-s vectors (likely mislabels). This is
# the standard cluster-quality score at corpus scale - exact silhouette
# is O(N^2) pairwise; the centroid form is the linear-time variant every
# large-scale eval uses (and the one sklearn's docs recommend beyond
# memory limits). Complements label_centroids (the centroids
# themselves), knn_label_accuracy (local consistency), and
# embedding_centroid_drift (temporal stability) with a global
# separation-vs-cohesion score.
#
# Determinism: centroids ride the label_centroids micro-unit device
# (floor(v*1e9+0.5) -> exact int sums -> one double division); distances
# are sequential zip_with folds (the functions.dot order contract);
# per-label means re-quantize s at 1e9 before the exact sum.
#
# Scale notes (100 TB): the centroid table is bounded (labels x dims),
# built from one (label, dim)-keyed shuffle with map-side partials and
# broadcast back; the per-vector work is an L-way bounded fan-out
# against the broadcast followed by ONE vec_id-keyed partial agg and a
# bounded per-label rollup. The corpus moves once.
@query(
    "simplified_silhouette_by_label",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    cd AS (
        SELECT label, dim,
               CAST(CAST(sum({_U9_SIL.format(v='val')}) AS VARCHAR) AS DOUBLE)
                   / (1000000000.0 * count(*)) AS c
        FROM (
            SELECT label,
                   unnest(range(len(emb))) AS dim,
                   unnest(emb) AS val
            FROM e
        )
        GROUP BY label, dim
    ),
    cents AS (
        SELECT label AS clabel, list(c ORDER BY dim) AS cent
        FROM cd GROUP BY label
    ),
    d AS (
        SELECT v.vec_id, v.label, c.clabel,
               sqrt({oracle_sq_l2("v.emb", "c.cent")}) AS dist
        FROM e v CROSS JOIN cents c
    ),
    ab AS (
        SELECT vec_id, label,
               min(CASE WHEN label = clabel THEN dist END) AS a,
               min(CASE WHEN label <> clabel THEN dist END) AS b
        FROM d GROUP BY 1, 2
    ),
    s AS (
        SELECT label,
               CAST(floor(((b - a) / greatest(a, b)) * 1000000000.0 + 0.5)
                   AS HUGEINT) AS s9
        FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(CAST(sum(s9) AS VARCHAR) AS DOUBLE) / (1000000000.0 * count(*))
               AS mean_silhouette,
           CAST(count(*) FILTER (s9 < 0) AS BIGINT) AS n_negative
    FROM s GROUP BY label
    """,
)
def simplified_silhouette_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vec_double("embedding").alias("emb")
    )
    cd = (
        e.select("label", F.posexplode("emb").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.floor(F.col("val") * F.lit(1e9) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / (F.lit(1000000000.0) * F.count("*"))
            ).alias("c")
        )
    )
    cents = cd.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s.c,
        ).alias("cent")
    )
    d = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(sq_l2("emb", "cent")).alias("dist"),
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("label") == F.col("clabel"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("label") != F.col("clabel"), F.col("dist"))).alias(
            "b"
        ),
    )
    s9 = F.floor(
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")) * F.lit(1e9)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    return (
        ab.select("label", s9.alias("s9"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            (
                F.sum("s9").cast("double")
                / (F.lit(1000000000.0) * F.count("*"))
            ).alias("mean_silhouette"),
            F.count(F.when(F.col("s9") < 0, 1))
            .cast("bigint")
            .alias("n_negative"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup threshold calibration sweep: the cosine-score histogram of
# ALL hyperplane-LSH bucket pairs in 0.05 bins, with the descending
# cumulative pair count - the curve a curation engineer reads to CHOOSE
# tau before running embedding_near_dup_pairs (pick the knee; the
# fixture's near-uniform sphere shows the natural noise decay a planted-
# duplicate corpus would break with a spike at the top bins). One
# distance computation, every threshold answered.
#
# Determinism: scores are the established per-pair IEEE chain; the bin
# is floor(score * 20) on bit-identical doubles; counts exact; the
# cumulative window runs over <= 41 bin rows.
#
# Scale notes (100 TB): identical candidate cost to the pair query (the
# 16-bit bucket equi-join; the signature table is persisted across the
# self-join sides) - the sweep REPLACES per-threshold reruns, which is
# the point; the histogram agg is bounded-key with map-side partials.
@query(
    "near_dup_threshold_sweep",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    sig AS (SELECT vec_id, emb, {{bucket}} AS bucket FROM v),
    p AS (
        SELECT {_OCOS} AS score
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    h AS (
        SELECT CAST(floor(score * 20) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM p GROUP BY 1
    )
    SELECT bin, CAST(bin AS DOUBLE) / 20 AS bin_lo, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_pairs_at_or_above
    FROM h
    """,
)
def near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec_double("embedding").alias("emb")
    )
    pairs = near_dup_pairs(v, tau=None)  # RAW pair set: no filter/sort
    h = (
        pairs.select(
            F.floor(F.col("score") * 20).cast("bigint").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n_pairs"))
    )
    w = W.orderBy(F.desc("bin")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return h.select(
        "bin",
        (F.col("bin").cast("double") / 20).alias("bin_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias(
            "cum_pairs_at_or_above"
        ),
    )


from ..registry import ORACLES as _SIM_OR2  # noqa: E402

_SIM_OR2["near_dup_threshold_sweep"] = _SIM_OR2[
    "near_dup_threshold_sweep"
].format(bucket=_duck_bucket("emb"))


# ---------------------------------------------------------------------------
# Embedding anisotropy probe: the mean pairwise cosine of a FIXED-COUNT
# hash-order sample (128 vectors -> 8128 pairs) plus the share of pairs
# above 0.5 - the "is this embedding space collapsed into a cone?"
# diagnostic (Ethayarajh 2019): isotropic spaces average near 0;
# anisotropic LM embeddings average high, which silently breaks cosine
# thresholds tuned on isotropic assumptions (the tau chosen by
# near_dup_threshold_sweep means something different in a collapsed
# space - run both).
#
# Determinism: the sample is the md5-hash-order top-128 (the fixed-
# count seed rule); per-pair cosines are the established IEEE fold
# chain, quantized to nano before the exact mean.
#
# Scale notes (100 TB): the sample is bounded by construction, so the
# pair set is a constant 8128 rows at ANY corpus size - broadcast
# self-pairing of a 128-row relation; the corpus is touched once by
# the TakeOrdered sample scan.
_ANISO_N = 128
_ANISO_H_S = _SPARK_H32.format(s="concat('aniso:', cast(vec_id as string))")
_ANISO_H_D = _DUCK_H32.format(s="concat('aniso:', CAST(vec_id AS VARCHAR))")


@query(
    "embedding_anisotropy",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb
        FROM embeddings
        ORDER BY {_ANISO_H_D}, vec_id LIMIT {_ANISO_N}
    ),
    p AS (
        SELECT CAST(floor(({_OCOS.replace('a.emb', 's1.emb').replace('b.emb', 's2.emb')})
                   * 1000000000 + 0.5) AS BIGINT) AS cos_nano
        FROM s s1 JOIN s s2 ON s1.vec_id < s2.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CAST(sum(cos_nano) AS VARCHAR) AS DOUBLE) / (1000000000.0 * count(*))
               AS mean_cosine,
           CAST(count(*) FILTER (cos_nano > 500000000) AS BIGINT)
               AS n_above_half
    FROM p
    """,
)
def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import cosine

    s = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", vec_double("embedding").alias("emb"))
        .withColumn("h", F.expr(_ANISO_H_S))
        .orderBy("h", "vec_id")
        .limit(_ANISO_N)
        .select("vec_id", "emb")
    )
    a, b = s.alias("s1"), s.alias("s2")
    cos_nano = F.floor(
        cosine(F.col("s1.emb"), F.col("s2.emb")) * F.lit(1_000_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    p = a.join(
        F.broadcast(b), F.col("s1.vec_id") < F.col("s2.vec_id")
    ).select(cos_nano.alias("cos_nano"))
    return p.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (
            F.sum(F.col("cos_nano").cast("decimal(38,0)")).cast("double")
            / (F.lit(1_000_000_000.0) * F.count("*"))
        ).alias("mean_cosine"),
        F.count(F.when(F.col("cos_nano") > 500_000_000, 1))
        .cast("bigint")
        .alias("n_above_half"),
    )


# ---------------------------------------------------------------------------
# Cosine-vs-L2 rank agreement: for the fixed 64-query set, compare each
# query's top-10 neighbors under cosine similarity vs euclidean
# distance - overlap@10 plus exact Kendall-tau concordance over the
# common items - the metric-choice audit run before committing an ANN
# index metric (on NORMALIZED vectors the two agree perfectly; raw
# vectors diverge, and this measures by how much on YOUR corpus).
#
# Determinism: both scores are quantized fold chains; both top-10 cuts
# and the tau pair comparisons ride integer keys with id tiebreaks.
#
# Scale notes (100 TB): one corpus pass scores both metrics against the
# bounded broadcast query set (fixed 64 - the seed rule); per-query
# ranking gets the WindowGroupLimit prune; the tau computation runs on
# 10-row-per-query lists via in-group pair expansion.
_RA_QUERIES = 64
_RA_K = 10
_RA_H_S = _SPARK_H32.format(s="concat('ra:', cast(vec_id as string))")
_RA_H_D = _DUCK_H32.format(s="concat('ra:', CAST(vec_id AS VARCHAR))")


def _ra_oracle() -> str:
    cos = _OCOS.replace("a.emb", "q.emb").replace("b.emb", "v.emb")
    l2 = oracle_sq_l2("q.emb", "v.emb")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS qid, emb FROM e
          ORDER BY {_RA_H_D}, vec_id LIMIT {_RA_QUERIES}),
    scored AS (
        SELECT q.qid, v.vec_id,
               CAST(floor(({cos}) * 1000000000 + 0.5) AS BIGINT) AS cs,
               CAST(floor(({l2}) * 1000000000 + 0.5) AS BIGINT) AS d2
        FROM q JOIN e v ON v.vec_id <> q.qid
    ),
    rc AS (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                   ORDER BY cs DESC, vec_id) AS r_cos
        FROM scored
    ),
    rl AS (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                   ORDER BY d2, vec_id) AS r_l2
        FROM scored
    ),
    common AS (
        SELECT c.qid, c.vec_id, c.r_cos, l.r_l2
        FROM rc c JOIN rl l ON l.qid = c.qid AND l.vec_id = c.vec_id
        WHERE c.r_cos <= {_RA_K} AND l.r_l2 <= {_RA_K}
    ),
    pairs AS (
        SELECT a.qid,
               CASE WHEN (a.r_cos - b.r_cos) * (a.r_l2 - b.r_l2) > 0
                    THEN 1 ELSE -1 END AS s
        FROM common a JOIN common b
          ON a.qid = b.qid AND a.vec_id < b.vec_id
    ),
    per_q AS (
        -- EVERY query participates: one whose two top-10 lists are fully
        -- disjoint contributes n_common = 0 rather than vanishing from
        -- the denominator (r9 review: the groupBy-common form silently
        -- biased mean_overlap upward and shrank n_queries)
        SELECT q.qid,
               CAST(coalesce((SELECT count(*) FROM common c
                              WHERE c.qid = q.qid), 0) AS BIGINT)
                   AS n_common,
               CAST(coalesce((SELECT sum(s) FROM pairs p
                              WHERE p.qid = q.qid), 0) AS BIGINT) AS tau_num
        FROM q
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(CAST(sum(n_common) AS VARCHAR) AS DOUBLE) / (count(*) * {_RA_K})
               AS mean_overlap_at_10,
           CAST(sum(tau_num) AS BIGINT) AS tau_numerator,
           CAST(sum(n_common * (n_common - 1) / 2) AS BIGINT) AS tau_pairs
    FROM per_q
    """


@query("cosine_vs_l2_rank_agreement", oracle=_ra_oracle())
def cosine_vs_l2_rank_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions import dot as _dot, l2_norm as _l2_norm
    from ..tables import widen_small_scan

    # r16: (a) widen the candidate scan - the per-pair fold work below
    # sat on the fixture's single parquet split, so ONE core scored every
    # (query, candidate) pair (plan: Project directly over Scan parquet;
    # no-op on a real many-split corpus, see widen_small_scan); (b) hoist
    # the two l2 norms out of the pair loop - cosine(a,b) is
    # dot/(sqrt_fold(a)*sqrt_fold(b)), and the norms depend on one vector
    # each, so computing them once per VECTOR before the join replaces 2
    # of the 4 per-pair dim-64 folds with a scalar multiply. Both sides
    # of the division are the same IEEE expressions on the same inputs,
    # so cs is bit-identical to the inline _cosine form (the _emb_n
    # lesson; oracle unchanged).
    e = widen_small_scan(
        load_table(spark, sf_dir, "embeddings")
    ).select("vec_id", vec_double("embedding").alias("emb"))
    en = e.withColumn("nrm", _l2_norm(F.col("emb")))
    q = (
        en.withColumn("h", F.expr(_RA_H_S))
        .orderBy("h", "vec_id")
        .limit(_RA_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
    )

    scored = (
        en.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.floor(
                (
                    _dot(F.col("qemb"), F.col("emb"))
                    / (F.col("qnrm") * F.col("nrm"))
                )
                * F.lit(1_000_000_000)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cs"),
            F.floor(
                sq_l2("qemb", "emb")
                * F.lit(1_000_000_000)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("d2"),
        )
    )
    wc = W.partitionBy("qid").orderBy(F.desc("cs"), "vec_id")
    wl = W.partitionBy("qid").orderBy("d2", "vec_id")
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(wc).alias("r_cos"),
        F.row_number().over(wl).alias("r_l2"),
    )
    common = ranked.where(
        (F.col("r_cos") <= _RA_K) & (F.col("r_l2") <= _RA_K)
    )
    lists = common.groupBy("qid").agg(
        F.count("*").alias("n_common"),
        F.collect_list(F.struct("vec_id", "r_cos", "r_l2")).alias("xs"),
    )
    # exact Kendall numerator via in-group pair expansion (<= C(10,2))
    tau_num = F.aggregate(
        F.expr(
            "flatten(transform(xs, (x, i) -> transform("
            "slice(xs, i + 2, size(xs)), y -> CASE WHEN "
            "(x.r_cos - y.r_cos) * (x.r_l2 - y.r_l2) > 0 "
            "THEN 1 ELSE -1 END)))"
        ),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    per_q_present = lists.select(
        "qid", "n_common", tau_num.alias("tau_num")
    )
    # EVERY query participates in the metric: a fully-disjoint query
    # contributes n_common = 0 instead of vanishing from the denominator
    # (r9 review; mirrors the oracle's FROM q form)
    per_q = (
        q.select("qid")
        .join(per_q_present, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_common"), F.lit(0).cast("bigint")).alias(
                "n_common"
            ),
            F.coalesce(F.col("tau_num"), F.lit(0).cast("bigint")).alias(
                "tau_num"
            ),
        )
    )
    return per_q.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        (
            F.sum("n_common").cast("double") / (F.count("*") * F.lit(_RA_K))
        ).alias("mean_overlap_at_10"),
        F.sum("tau_num").cast("bigint").alias("tau_numerator"),
        F.sum(
            (F.col("n_common") * (F.col("n_common") - 1) / 2).cast("bigint")
        )
        .cast("bigint")
        .alias("tau_pairs"),
    )


# ---------------------------------------------------------------------------
# IVF cell-balance audit: the per-cell population of the IVF index
# (nearest-centroid assignment, the exact routing ivf_topk_similar
# uses) plus the global imbalance ratios - the index-health check every
# ANN deployment runs: a hot cell (max/mean >> 1) dominates probe
# latency, and empty cells waste nprobe budget. Reuses _ivf_centroid_set
# and _ivf_argmax verbatim, so the audited assignment IS the assignment
# the search query executes.
#
# Scale notes (100 TB): the centroid set is the bounded broadcast; the
# assignment is the map-side struct-min combine (N x C pairs never
# shuffle); cell counts are a bounded 256-key agg and the ratios run on
# that table.
@query(
    "ivf_cell_balance",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb FROM v
             ORDER BY {_C_H_DUCK}, vec_id LIMIT {N_CENTROIDS}),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT a.vec_id, b.centroid_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_OCOS} DESC,
                                b.centroid_id
                   ) AS rn
            FROM v a CROSS JOIN cent b
        ) WHERE rn = 1
    ),
    cells AS (
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs
        FROM assign GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(max(n_vecs) AS BIGINT) AS mx FROM cells)
    SELECT c.centroid_id, c.n_vecs,
           CAST(t.mx AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
               / CAST(t.tot AS DOUBLE) AS imbalance_ratio,
           CAST({N_CENTROIDS} - t.n_cells AS BIGINT) AS n_empty_cells
    FROM cells c CROSS JOIN t
    """,
)
def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    v = caches.persist(_emb_n(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    cent = _ivf_centroid_set(v)
    assign = _ivf_argmax(cent, v, "vec_id", keep=1)
    cells = assign.groupBy("centroid_id").agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    t = cells.agg(
        F.sum("n_vecs").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.max("n_vecs").cast("bigint").alias("mx"),
    )
    return cells.crossJoin(F.broadcast(t)).select(
        "centroid_id",
        "n_vecs",
        (
            F.col("mx").cast("double")
            * F.col("n_cells").cast("double")
            / F.col("tot").cast("double")
        ).alias("imbalance_ratio"),
        (F.lit(N_CENTROIDS) - F.col("n_cells"))
        .cast("bigint")
        .alias("n_empty_cells"),
    )
