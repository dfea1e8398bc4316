"""Corpus-curation operators: the selection/sampling layer of a training-
data pipeline (sits on top of the text/dedup/similarity operators).

  * stratified sampling  - deterministic per-language hash sampling
                           (downsample the dominant language), the standard
                           "data mixture" knob.
  * label centroids      - per-class mean embedding (the k-means E-step /
                           class-prototype building block).
  * curation pipeline    - quality filter -> near-format dedup -> per-lang
                           corpus stats, composed from the same expressions
                           the standalone text queries register.
  * sequence packing     - exclusive prefix sum of token counts (banded,
                           never a global single-partition window) maps each
                           doc onto fixed-length training sequences.
  * overlap chunking     - sliding char windows per document (RAG prep),
                           a pure zero-shuffle flat map.

Determinism: sampling uses the md5-derived 32-bit hash shared with the
dedup operators (identical in DuckDB), so the sample is a pure function of
doc_id - reproducible across engines, partitionings, and reruns, which is
exactly what a training-data pipeline needs from its sampler. Embedding
means use the integer micro-unit contract (floor(val*1e9+0.5), exact
integer sums): the decimal-cast contract is UNSAFE for float32-derived
values - dyadic rationals land exactly on decimal half-ties, where Spark
and DuckDB round differently (round-6 finding; see label_centroids).

Scale notes (100 TB):
  * sampling: stateless per-row predicate, no shuffle at all; fractions
    are exact in expectation with concentration ~1/sqrt(n) per stratum.
  * centroids: posexplode fans each vector into (label, dim) rows -> ONE
    shuffle on (label, dim), a uniform (n_labels x n_dims)-ary key with
    map-side partial aggregation; no vector ever crosses the wire whole.
  * curation: per-row projections -> one shuffle on the high-entropy
    content fingerprint for dedup -> low-cardinality lang agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import (
    ORACLE_TOKENS,
    band_offsets,
    oracle_quality_micro,
    oracle_quality_score,
    oracle_stop_hits,
    quality_micro,
    quality_score,
    stop_hits,
    tokens,
)
from ..registry import query
from ..tables import load_table
from .dedup import _DUCK_H32, _SPARK_H32

_OT = ORACLE_TOKENS.format(col="text")

# Per-language keep rates: downsample the dominant language (en is ~44% of
# the corpus) toward a balanced mixture; fixed literals = fixed mixture.
SAMPLE_RATES: dict[str, float] = {
    "en": 0.3,
    "de": 0.9,
    "es": 0.9,
    "fr": 0.9,
    "zh": 0.9,
    "__default__": 0.5,
}

# sampling hash: md5-derived uniform in [0, 1) - /2^32 is a power-of-two
# divide, so sample_u is exact (no rounding divergence between engines)
# NB: a bare 4294967296.0 literal parses as DECIMAL in Spark SQL, which
# would make the whole division decimal-typed; force the double divide.
_SPARK_U = (
    "(" + _SPARK_H32.format(s="concat('strat-', cast(doc_id as string))")
    + " / cast(4294967296 as double))"
)
_DUCK_U = (
    "(" + _DUCK_H32.format(s="concat('strat-', CAST(doc_id AS VARCHAR))")
    + " / 4294967296.0)"
)


def _rate_case_sql() -> str:
    arms = " ".join(
        f"WHEN lang = '{k}' THEN {v}"
        for k, v in SAMPLE_RATES.items()
        if k != "__default__"
    )
    return f"CASE {arms} ELSE {SAMPLE_RATES['__default__']} END"


def _rate_col() -> Column:
    expr = None
    for k, v in SAMPLE_RATES.items():
        if k == "__default__":
            continue
        cond = F.col("lang") == k
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    return expr.otherwise(F.lit(SAMPLE_RATES["__default__"]))


@query(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang, {_DUCK_U} AS sample_u
    FROM documents
    WHERE {_DUCK_U} < {_rate_case_sql()}
    ORDER BY doc_id
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(_SPARK_U)
    return (
        docs.select("doc_id", "lang", u.alias("sample_u"))
        .where(F.col("sample_u") < _rate_col())
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-label centroid, one row per (label, dim). Element means use INTEGER
# MICRO-UNITS, not the decimal contract: float32 embedding values are
# dyadic rationals, and dyadic values with denominator up to 2^(scale+1)
# land EXACTLY on decimal half-ulp ties, where the engines' double->
# decimal casts disagree (found round 6 at sf0.1: 0.1494140625 -> DuckDB
# 0.149414062, Spark 0.149414063 - the old "binary fractions never tie"
# claim was wrong). floor(val*1e9 + 0.5) is pure IEEE arithmetic - both
# engines compute the identical double product, sum, and floor - so the
# quantization (round-half-toward-+inf at 9 fractional digits, part of
# the query contract) is bit-deterministic by construction. Sums ride
# decimal(38,0)/HUGEINT (exact integers: no fractional rounding exists).
_U9 = "CAST(floor({v} * 1000000000.0 + 0.5) AS HUGEINT)"


@query(
    "label_centroids",
    oracle=f"""
    SELECT label, dim,
           CAST(CAST(sum({_U9.format(v='CAST(val AS DOUBLE)')}) AS VARCHAR) AS DOUBLE)
               / (1000000000.0 * count(*)) AS centroid,
           count(*) AS n_vecs
    FROM (
        SELECT label,
               unnest(range(len(embedding))) AS dim,
               unnest(embedding) AS val
        FROM embeddings
    )
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    u9 = F.floor(F.col("val") * F.lit(1_000_000_000.0) + F.lit(0.5))
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "val"
            ),
        )
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(u9.cast("decimal(38,0)")).cast("double")
                / (F.lit(1_000_000_000.0) * F.count("*"))
            ).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# End-to-end curation: quality gate -> formatting-insensitive exact dedup
# (md5 of the normalized token stream, min-doc_id survivor) -> per-lang
# mixture stats. min/max are order-independent, so the only decimal-contract
# column is none at all - every aggregate here is exact.
_QUALITY_GATE = 0.60
_MIN_TOKENS = 10


@query(
    "corpus_curation_stats",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang,
               len(toks) AS n_tokens,
               md5(array_to_string(toks, ' ')) AS fp_norm,
               {oracle_quality_score('len(toks)', oracle_stop_hits('toks'),
                                     'len(list_distinct(toks))')}
                   AS quality_score
        FROM (SELECT doc_id, lang, text, {_OT} AS toks FROM documents)
        WHERE len(toks) >= {_MIN_TOKENS}
    ),
    kept AS (
        SELECT * FROM base WHERE quality_score >= {_QUALITY_GATE}
    ),
    dedup AS (
        SELECT *, row_number() OVER (
            PARTITION BY fp_norm ORDER BY doc_id) AS rn
        FROM kept
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           min(quality_score) AS min_quality,
           max(quality_score) AS max_quality
    FROM dedup WHERE rn = 1
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token array bound ONCE as its own column: inlining tokens("text")
    # into each of the four consumers re-runs the regex split per
    # expression (Catalyst does not CSE non-cheap projections)
    t = F.col("t")
    base = (
        docs.select("doc_id", "lang", tokens("text").alias("t"))
        .select(
            "doc_id",
            "lang",
            F.size(t).alias("n_tokens"),
            F.md5(F.array_join(t, " ").cast("binary")).alias("fp_norm"),
            F.size(F.array_distinct(t)).alias("n_uniq"),
            stop_hits("t").alias("n_stop"),
        )
        .where(F.col("n_tokens") >= _MIN_TOKENS)
    )
    kept = base.withColumn("quality_score", quality_score()).where(
        F.col("quality_score") >= F.lit(_QUALITY_GATE)
    )
    survivor = (
        F.row_number()
        .over(W.partitionBy("fp_norm").orderBy("doc_id"))
        .alias("rn")
    )
    return (
        kept.withColumn("rn", survivor)
        .where(F.col("rn") == 1)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("quality_score").alias("min_quality"),
            F.max("quality_score").alias("max_quality"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Token-stream sequence packing: the training-data step that concatenates
# the tokenized corpus (in deterministic doc_id order) and slices it into
# fixed-length training sequences. Each document's placement is fully
# determined by the EXCLUSIVE prefix sum of token counts in that order -
# the document occupies token interval [start_tok, start_tok + n_tokens),
# which spans sequences floor(start/L) .. floor((end-1)/L).
#
# The prefix sum does NOT use a global single-partition window (the
# canonical scale-killer): functions.band_offsets - approx-percentile
# doc_id boundaries split the corpus into bands, ONE shuffle computes
# per-band local cumsums, and band offsets ride a window over the
# band-count table (rows = n_bands, bounded by construction).
_SEQ_LEN = 512


@query(
    "pack_token_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_OT}) AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_tok
        FROM t
    )
    SELECT doc_id, n_tokens, start_tok,
           start_tok // {_SEQ_LEN} AS first_seq,
           CASE WHEN n_tokens = 0 THEN start_tok // {_SEQ_LEN}
                ELSE (start_tok + n_tokens - 1) // {_SEQ_LEN} END AS last_seq,
           start_tok % {_SEQ_LEN} AS seq_offset
    FROM c
    ORDER BY doc_id
    """,
)
def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    banded = band_offsets(
        t,
        "doc_id",
        F.sum("n_tokens"),
        lambda band: F.coalesce(
            F.sum("n_tokens").over(
                band.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_lsum"),
    )
    start = (F.col("_off") + F.col("_lsum")).alias("start_tok")
    out = banded.select("doc_id", "n_tokens", start)
    end_tok = F.col("start_tok") + F.col("n_tokens") - 1
    return out.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / _SEQ_LEN).alias("first_seq"),
        F.when(
            F.col("n_tokens") == 0, F.floor(F.col("start_tok") / _SEQ_LEN)
        )
        .otherwise(F.floor(end_tok / _SEQ_LEN))
        .alias("last_seq"),
        (F.col("start_tok") % _SEQ_LEN).alias("seq_offset"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Sliding-window document chunking with overlap (RAG / long-context prep):
# fixed _CHUNK_CHARS windows advancing by _CHUNK_STRIDE, so consecutive
# chunks share (_CHUNK_CHARS - _CHUNK_STRIDE) chars of context. Pure
# per-row expansion: sequence() + posexplode + substring, all JVM
# expressions, zero shuffle - the plan is a flat map over the corpus.
# Chunk text is emitted as md5 + length (not the text itself) so the
# result stays narrow at any scale; substring/md5 semantics are identical
# in DuckDB (1-based, length-capped, lowercase hex).
_CHUNK_CHARS = 200
_CHUNK_STRIDE = 150


@query(
    "chunk_docs_overlap",
    oracle=f"""
    SELECT doc_id, i AS chunk_idx,
           i * {_CHUNK_STRIDE} + 1 AS chunk_start,
           length(substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_CHARS}))
               AS chunk_len,
           md5(substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_CHARS}))
               AS chunk_md5
    FROM documents,
         LATERAL (
             SELECT unnest(generate_series(
                 0, (length(text) - 1) // {_CHUNK_STRIDE}
             )) AS i
         ) g
    WHERE length(text) > 0
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_docs_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the empty-text guard is part of the contract on BOTH sides: Spark's
    # sequence(0, -1) defaults to step -1 and yields [0, -1] (two bogus
    # chunks), while DuckDB's generate_series(0, -1) is empty - an
    # empty document must produce zero chunks in either engine
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    n_chunks_last = F.floor((F.length("text") - 1) / _CHUNK_STRIDE)
    chunk = F.substring(
        F.col("text"),
        (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int"),
        _CHUNK_CHARS,
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.posexplode(
                F.sequence(F.lit(0), n_chunks_last.cast("int"))
            ).alias("chunk_idx", "_i"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * _CHUNK_STRIDE + 1)
            .cast("bigint")
            .alias("chunk_start"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
        # no output sort: full-table fan-out (several chunks per doc), the
        # driver hash is order-insensitive and the plan is otherwise
        # shuffle-free - a global sort would be its only exchange
    )


# ---------------------------------------------------------------------------
# Distributed k-means over the embedding corpus, two full Lloyd iterations
# with deterministic seeding - the semantic-clustering step a curation
# pipeline uses for diversity sampling / semantic dedup, and the iterative
# generalization of label_centroids (the E-step) above.
#
# Determinism contract (the whole loop is oracle-mirrored step for step):
#   * seeds are the FIXED-COUNT K=256 vectors first in md5-hash order
#     (hash of 'km-'||vec_id, vec_id tiebreak) - a pure function of the
#     ids, picked by a top-K (TakeOrderedAndProject: map-side partial
#     top-K, no global sort), so C stays 256 no matter how large the
#     corpus grows. (A fractional rule like vec_id % 50 would make C
#     scale as N/50 and turn the broadcast below into an O(N) relation
#     and assignment into O(N^2/50) pairs - the round-5 scale bug.);
#   * assignment minimizes squared L2 distance composed EXACTLY as
#     (v.v + c.c) - 2*(v.c) with the shared sequential-fold dot product,
#     tie-broken on centroid id via the same row_number pattern as IVF;
#   * centroid means use the INTEGER MICRO-UNIT contract (see
#     label_centroids above): floor(val*1e9 + 0.5) - pure IEEE ops both
#     engines compute identically - then exact decimal(38,0)/HUGEINT
#     sums. NOT the double->decimal cast: dyadic float32 values land
#     exactly on decimal half-ties, where the engines' cast rounding
#     DIFFERS (round-6 finding at sf0.1).
#
# Scale notes (100 TB): per iteration, assignment is a broadcast of the
# BOUNDED 256-row centroid table against the corpus (no corpus shuffle)
# followed by a map-side-combined min-struct agg (the N x C scored pairs
# never shuffle - see _km_assign); the update is posexplode -> ONE
# partial-agg shuffle on the uniform (cid, dim) key - no vector crosses
# the wire whole, and rounds compose by chaining the same two plans.
_KM_K = 256  # fixed centroid count: broadcast stays bounded at any N
_KM_H_SPARK = _SPARK_H32.format(s="concat('km-', cast(vec_id as string))")
_KM_H_DUCK = _DUCK_H32.format(s="concat('km-', CAST(vec_id AS VARCHAR))")


def _km_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, emb, vv) x (cid, cemb, cc) -> (vec_id, emb, cid) nearest
    centroid. Squared norms arrive precomputed - per-VECTOR work, not
    per-PAIR (the N x C assignment would otherwise re-fold both arrays
    for every pair; same lesson as the LSH verify join) - leaving one
    dot product per pair.

    The argmin is min(struct(d2, cid)) - lexicographic struct ordering
    IS "d2 asc, cid asc" - under groupBy, NOT a row_number window: after
    the broadcast crossJoin every vec_id lives in exactly one partition,
    so the partial agg collapses N x C scored pairs to N rows map-side
    and the shuffle moves O(N), not O(N x C). Measured at sf0.1 (r6):
    window 3.08s -> agg 0.34s per assignment, identical output. vv/cc
    are the identical fold over the identical array, so d2 is bit-equal
    to the inline form the oracle states; min-struct picks exactly the
    row the oracle's row_number(ORDER BY d2, cid)=1 picks."""
    from ..functions import dot

    d2 = (F.col("vv") + F.col("cc")) - (
        F.lit(2.0) * dot(F.col("emb"), F.col("cemb"))
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "emb", "vv", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cid")).alias("m"),
            # emb/vv are constant per vec_id (first is deterministic here)
            F.first("emb").alias("emb"),
            F.first("vv").alias("vv"),
        )
        .select("vec_id", "emb", "vv", F.col("m.cid").alias("cid"))
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """(vec_id, emb, cid) -> (cid, cemb) exact per-dim means in integer
    micro-units (floor(val*1e9+0.5), summed as decimal(38,0)) - the
    label_centroids tie-safe contract; a double->decimal(30,9) cast here
    would hit the engines' divergent half-tie rounding on dyadic float32
    values (round-6 finding)."""
    u9 = F.floor(F.col("val") * F.lit(1_000_000_000.0) + F.lit(0.5))
    sums = (
        assigned.select("cid", F.posexplode("emb").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(
            (
                F.sum(u9.cast("decimal(38,0)")).cast("double")
                / (F.lit(1_000_000_000.0) * F.count("*"))
            ).alias("mv")
        )
    )
    return sums.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mv"))),
            lambda s: s["mv"],
        ).alias("cemb")
    )


def _km_oracle_assign(vtab: str, ctab: str, out: str) -> str:
    from ..functions import oracle_dot

    d2 = (
        f"(({oracle_dot('a.emb', 'a.emb')}) + ({oracle_dot('b.cemb', 'b.cemb')}))"
        f" - (2.0 * ({oracle_dot('a.emb', 'b.cemb')}))"
    )
    return f"""
    {out} AS (
        SELECT vec_id, cid FROM (
            SELECT a.vec_id, b.cid,
                   row_number() OVER (
                       PARTITION BY a.vec_id ORDER BY {d2} ASC, b.cid ASC
                   ) AS rn
            FROM {vtab} a CROSS JOIN {ctab} b
        ) WHERE rn = 1
    )"""


@query(
    "kmeans_embedding_clusters",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cemb FROM v
           ORDER BY {_KM_H_DUCK}, vec_id LIMIT {_KM_K}),
    {_km_oracle_assign('v', 'c0', 'a1')},
    pe1 AS (
        SELECT a1.cid, g.i - 1 AS dim, v.emb[g.i] AS val
        FROM a1 JOIN v USING (vec_id),
             LATERAL (SELECT unnest(generate_series(1, len(v.emb))) AS i) g
    ),
    m1 AS (
        SELECT cid, dim,
               CAST(CAST(sum({_U9.format(v='val')}) AS VARCHAR) AS DOUBLE)
                   / (1000000000.0 * count(*)) AS mv
        FROM pe1 GROUP BY 1, 2
    ),
    c1 AS (SELECT cid, list(mv ORDER BY dim) AS cemb FROM m1 GROUP BY cid),
    {_km_oracle_assign('v', 'c1', 'a2')}
    SELECT vec_id, cid AS cluster_id,
           count(*) OVER (PARTITION BY cid) AS cluster_size
    FROM a2 ORDER BY vec_id
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dot, vec_double
    from ..tables import widen_small_scan

    # widen: the fixture parquet is one split; every assignment pass
    # would otherwise run single-task (no-op at production scale)
    v = widen_small_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", vec_double("embedding").alias("emb")
        )
    )
    v = v.withColumn("vv", dot(F.col("emb"), F.col("emb")))
    c0 = (
        v.orderBy(F.expr(_KM_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(_KM_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("cemb"),
            F.col("vv").alias("cc"),
        )
    )
    a1 = _km_assign(v, c0)
    c1 = _km_update(a1).withColumn("cc", dot(F.col("cemb"), F.col("cemb")))
    a2 = _km_assign(v, c1)
    # no output sort: one row per vector (full-table scale), driver hash
    # is order-insensitive
    return a2.select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.count("*").over(W.partitionBy("cid")).alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# Exact-k per-group sampling: exactly K docs per language, chosen by the
# md5-derived hash order (with doc_id as total-order tiebreak), so the
# sample is a pure function of the data - reproducible across engines,
# partitionings, and reruns, and EXACTLY sized (the rate-based sampler
# above is exact only in expectation). The rank-filter window gets
# Catalyst's native map-side WindowGroupLimit prune (each input split
# forwards <= K rows per language before the shuffle), so the plan moves
# O(K x splits x langs) rows, not the corpus.
_SAMPLE_K = 20


@query(
    "sample_exact_k_per_lang",
    oracle=f"""
    SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_DUCK_H32.format(s="concat('pick-', CAST(doc_id AS VARCHAR))")},
                            doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= {_SAMPLE_K}
    ORDER BY lang, rk
    """,
)
def sample_exact_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(
            _SPARK_H32.format(s="concat('pick-', cast(doc_id as string))")
        ).alias("_h"),
    )
    w = W.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _SAMPLE_K)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Temperature-based language rebalancing: the multilingual-mixture knob
# (sampling prob proportional to p_lang^alpha, alpha<1 upweights rare
# languages - the mT5/XLM-R recipe). With alpha=0.5 the per-language keep
# rate normalized to keep-all for the rarest language is
#     rate_l = sqrt(n_min / n_l)
# which needs only one integer division and one sqrt - BOTH exactly
# IEEE-754-rounded in Spark and DuckDB - so unlike a general pow(p,
# alpha) the rate (and therefore the keep/drop decision at the hash
# boundary) is bit-deterministic across engines. Keep decision:
# md5-u('temp-'||doc_id) < rate, the same exact power-of-two-divide
# uniform as stratified_sample_docs.
#
# Scale notes (100 TB): one lang-keyed count agg (low-cardinality key,
# map-side partials), a 1-row global min, a broadcast of the per-language
# rate table (bounded: language codes are a closed vocabulary, ~100s at
# most), then a stateless per-row predicate - the corpus itself never
# shuffles.
_TEMP_U_SPARK = (
    "(" + _SPARK_H32.format(s="concat('temp-', cast(doc_id as string))")
    + " / cast(4294967296 as double))"
)
_TEMP_U_DUCK = (
    "(" + _DUCK_H32.format(s="concat('temp-', CAST(doc_id AS VARCHAR))")
    + " / 4294967296.0)"
)


@query(
    "lang_temperature_resample",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
    r AS (
        SELECT lang,
               sqrt(CAST((SELECT min(n_l) FROM c) AS DOUBLE) / n_l) AS rate
        FROM c
    )
    SELECT d.doc_id, d.lang, round(r.rate, 6) AS keep_rate
    FROM documents d JOIN r USING (lang)
    WHERE {_TEMP_U_DUCK} < r.rate
    ORDER BY d.doc_id
    """,
)
def lang_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): `counts` feeds the min agg and the
    # rate table - plus the final keep-join re-scans docs, 3 scans per
    # plan. No-op at fixture scale (the r16 cheap-subtree lesson); at
    # corpus scale the re-scans are pure added I/O, so the per-lang
    # count table (bounded by the language set) persists once the
    # scan fills the cores.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    counts = caches.persist_when_scaled(counts, docs)
    n_min = counts.agg(F.min("n_l").alias("n_min"))
    rates = (
        counts.crossJoin(F.broadcast(n_min))  # 1-row broadcast, bounded
        .select(
            "lang",
            F.sqrt(F.col("n_min").cast("double") / F.col("n_l")).alias("rate"),
        )
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(F.expr(_TEMP_U_SPARK) < F.col("rate"))
        .select("doc_id", "lang", F.round("rate", 6).alias("keep_rate"))
        # no output sort: driver hash is order-insensitive
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching stats: the pre-training dataloader question
# "if I batch documents by length bucket and pad to the bucket max, how
# much compute is padding?" Documents bucket by token count (width-64
# ranges); each bucket reports docs, tokens, the bucket's realized max
# length, and padding waste = n_docs * max_len - sum_len (the tokens a
# max-length-padded batch would burn). One narrow projection (doc_id ->
# token count) and one groupBy(bucket): the shuffle carries a handful of
# partial rows per partition - bucket count is bounded by max_doc_len/64,
# a constant, so the plan is a pure map-side-combine agg at any corpus
# size. Waste figures are exact integers end-to-end.
_LB_WIDTH = 64


@query(
    "length_bucket_batching",
    oracle=f"""
    SELECT bucket,
           bucket * {_LB_WIDTH} AS bucket_min_len,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
               AS padding_waste
    FROM (
        SELECT CAST(len({_OT}) // {_LB_WIDTH} AS BIGINT) AS bucket,
               len({_OT}) AS n_tokens
        FROM documents
        WHERE len({_OT}) > 0
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(tokens("text")).alias("n_tokens")
    )
    n = F.col("n_tokens").cast("long")
    return (
        docs.where(n > 0)
        .select(F.floor(n / _LB_WIDTH).alias("bucket"), n.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            "bucket",
            (F.col("bucket") * _LB_WIDTH).alias("bucket_min_len"),
            "n_docs",
            "sum_tokens",
            "max_tokens",
            (F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split with a content-leakage audit: every
# doc lands in exactly one split by salted md5 of its id (90/5/5) -
# reproducible on any cluster size, no RNG state, resharding-proof - and
# the audit joins the split assignment against exact-content groups
# (md5 of text) to count contents that leak across split boundaries,
# the eval-contamination question every pretraining split must answer.
# Plan shape: one narrow projection derives (split, content hash) per
# doc; the leak check is a groupBy(content) counting distinct splits -
# one shuffle on the content hash, partial-agg'd map-side; the per-split
# rollup runs as a second branch over the same two parquet columns
# (two cheap columnar scans - a shared-scan persist would cost more
# than it saves at this width). The leak count is a 1-row aggregate
# broadcast onto the 3-row result (BNLJ of one row).
_SPLIT_SALT = "split-v1-"


def _split_col(id_col: str) -> "Column":
    h = F.expr(_SPARK_H32.format(s=f"concat('{_SPLIT_SALT}', cast({id_col} as string))"))
    bucket = h % 100
    return (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_SPLIT_H_DUCK = _DUCK_H32.format(
    s="concat('" + _SPLIT_SALT + "', CAST(doc_id AS VARCHAR))"
)
_SPLIT_DUCK = (
    f"CASE WHEN ({_SPLIT_H_DUCK}) % 100 < 90 THEN 'train' "
    f"WHEN ({_SPLIT_H_DUCK}) % 100 < 95 THEN 'val' "
    "ELSE 'test' END"
)


@query(
    "hash_split_assignment",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, n_chars, md5(text) AS content_h,
               {_SPLIT_DUCK} AS split
        FROM documents
    ),
    leaks AS (
        SELECT count(*) AS n_leaked_contents FROM (
            SELECT content_h FROM assigned
            GROUP BY content_h HAVING count(DISTINCT split) > 1
        )
    )
    SELECT a.split, count(*) AS n_docs,
           CAST(sum(a.n_chars) AS BIGINT) AS sum_chars,
           l.n_leaked_contents
    FROM assigned a CROSS JOIN leaks l
    GROUP BY a.split, l.n_leaked_contents
    ORDER BY a.split
    """,
)
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5(F.col("text").cast("binary")).alias("content_h")
    )
    assigned = docs.withColumn("split", _split_col("doc_id"))
    leaks = (
        assigned.groupBy("content_h")
        .agg(F.count_distinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .agg(F.count("*").alias("n_leaked_contents"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .join(F.broadcast(leaks))  # 1-row audit scalar
        .select("split", "n_docs", "sum_chars", "n_leaked_contents")
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space, then inside each cluster drop every vector
# that has an EARLIER (lower vec_id) neighbor above a cosine threshold -
# the keep-one-per-semantic-neighborhood rule LLM corpus curation uses to
# remove paraphrase-level duplicates that exact/MinHash dedup cannot see.
# Emits one row per vector with its cluster, the max cosine to any prior
# same-cluster vector (NULL for cluster minima), and the pruned flag.
#
# The fixture corpus is near-uniform on the sphere (max pairwise cosine
# ~0.51 - see similarity.py), so the threshold here is 0.4 to exercise
# the prune path; production corpora use ~0.95. K and tau are the two
# knobs of the SemDeDup cost/recall trade-off.
#
# Determinism: seeds are the md5-hash-order top-K (fixed count - the same
# scale-invariant rule as k-means above); assignment reuses _km_assign's
# proven min-struct argmin; per-vector norms are sqrt of the shared
# sequential-fold dot, so each pair cosine is the identical IEEE sequence
# dot/(nx*ny) in both engines, and max() over exact-comparable doubles is
# order-insensitive.
#
# Scale notes (100 TB): assignment broadcasts the BOUNDED K-row seed
# table (no corpus shuffle); the pair stage is an equi-join on cid - the
# classic SemDeDup cost Sum(c_i^2) confined within clusters, kept
# tractable by scaling K with the corpus (K ~ N/target-cluster-size, the
# paper uses ~100k clusters) so per-cluster pair counts stay bounded;
# skewed clusters split under AQE skew-join handling. The final per-vec
# max is a map-side-combinable agg on vec_id.
_SD_K = 64
_SD_TAU = 0.4
_SD_H_SPARK = _SPARK_H32.format(s="concat('sd-', cast(vec_id as string))")
_SD_H_DUCK = _DUCK_H32.format(s="concat('sd-', CAST(vec_id AS VARCHAR))")


def _sd_oracle() -> str:
    from ..functions import oracle_dot, oracle_norm

    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cemb FROM v
           ORDER BY {_SD_H_DUCK}, vec_id LIMIT {_SD_K}),
    {_km_oracle_assign('v', 'c0', 'a1')},
    av AS (SELECT a1.vec_id, a1.cid, v.emb, {oracle_norm('v.emb')} AS nrm
           FROM a1 JOIN v USING (vec_id)),
    p AS (SELECT y.vec_id AS vec_id,
                 max(({oracle_dot('x.emb', 'y.emb')}) / (x.nrm * y.nrm))
                     AS max_prior_cosine
          FROM av x JOIN av y
            ON x.cid = y.cid AND x.vec_id < y.vec_id
          GROUP BY y.vec_id)
    SELECT av.vec_id, av.cid AS cluster_id, p.max_prior_cosine,
           CASE WHEN p.max_prior_cosine >= {_SD_TAU} THEN 1 ELSE 0 END
               AS pruned
    FROM av LEFT JOIN p USING (vec_id)
    """


@query("semdedup_embedding_prune", oracle=_sd_oracle())
def semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dot, vec_double
    from ..tables import widen_small_scan

    v = widen_small_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", vec_double("embedding").alias("emb")
        )
    )
    v = v.withColumn("vv", dot(F.col("emb"), F.col("emb")))
    c0 = (
        v.orderBy(F.expr(_SD_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(_SD_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("cemb"),
            F.col("vv").alias("cc"),
        )
    )
    # r16: the cluster assignment feeds both sides of the in-cluster
    # pair join plus the output join - persist so the N x K centroid
    # argmax behind it runs once, not three times (guide §5)
    a = caches.persist(
        _km_assign(v, c0)
        .withColumn("nrm", F.sqrt(F.col("vv"))),
    )
    x = a.select(
        F.col("cid").alias("xcid"),
        F.col("vec_id").alias("x_id"),
        F.col("emb").alias("xemb"),
        F.col("nrm").alias("xnrm"),
    )
    y = a.select(
        "cid",
        "vec_id",
        F.col("emb").alias("yemb"),
        F.col("nrm").alias("ynrm"),
    )
    cos = dot(F.col("xemb"), F.col("yemb")) / (
        F.col("xnrm") * F.col("ynrm")
    )
    p = (
        x.join(
            y,
            (F.col("xcid") == F.col("cid"))
            & (F.col("x_id") < F.col("vec_id")),
        )
        .groupBy("vec_id")
        .agg(F.max(cos).alias("max_prior_cosine"))
    )
    return a.join(p, "vec_id", "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        "max_prior_cosine",
        F.when(F.col("max_prior_cosine") >= _SD_TAU, 1)
        .otherwise(0)
        .alias("pruned"),
    )


# ---------------------------------------------------------------------------
# Nested subsample curve: the 10/20/40/80% corpus schedule a scaling-law
# or learning-curve run trains on. Membership at level p is the hash
# predicate u < floor(p * 2^32) on ONE per-doc draw, so the subsets are
# NESTED BY CONSTRUCTION (10% subset of the 20%, and so on) - the property
# learning curves require and independent per-level samples violate.
# Emits per level: docs, chars, languages covered, and realized share.
#
# Determinism: the draw is the shared md5 h32 (pure function of doc_id);
# level membership is an EXACT integer comparison against precomputed
# thresholds - no float boundary; counts/sums are exact integers and the
# share divides once.
#
# Scale notes (100 TB): each doc maps to its SMALLEST containing level
# (one stateless projection - the corpus is never fanned out 4x), then
# ONE shuffle on the bounded (level, lang) key; the nesting is recovered
# by a cumulative window over the BOUNDED 4 x #langs grid, densified by
# a left join so absent (level, lang) cells cannot break the running sum.
_CURVE_LEVELS = [(10, 429496729), (20, 858993459), (40, 1717986918),
                 (80, 3435973836)]  # (pct, floor(pct/100 * 2^32))


def _curve_oracle() -> str:
    h = _DUCK_H32.format(s="concat('curve-', CAST(doc_id AS VARCHAR))")
    ml = " ".join(
        f"WHEN u < {t} THEN {p}" for p, t in _CURVE_LEVELS
    )
    vals = ", ".join(f"({p})" for p, _ in _CURVE_LEVELS)
    return f"""
    WITH d AS (SELECT doc_id, lang, n_chars, {h} AS u FROM documents),
    a AS (SELECT CASE {ml} END AS ml, lang, n_chars FROM d),
    g AS (SELECT ml, lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS ch
          FROM a WHERE ml IS NOT NULL GROUP BY 1, 2),
    grid AS (SELECT l.level_pct, langs.lang
             FROM (VALUES {vals}) l(level_pct)
             CROSS JOIN (SELECT DISTINCT lang FROM documents) langs),
    c AS (SELECT grid.level_pct, grid.lang,
                 coalesce(g.n, 0) AS n, coalesce(g.ch, 0) AS ch
          FROM grid LEFT JOIN g
            ON g.ml = grid.level_pct AND g.lang = grid.lang),
    cum AS (SELECT level_pct, lang,
                   CAST(sum(n) OVER w AS BIGINT) AS cn,
                   CAST(sum(ch) OVER w AS BIGINT) AS cch
            FROM c
            WINDOW w AS (PARTITION BY lang ORDER BY level_pct
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs FROM documents)
    SELECT level_pct, CAST(sum(cn) AS BIGINT) AS n_docs,
           CAST(sum(cch) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN cn > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_langs,
           CAST(CAST(sum(cn) AS VARCHAR) AS DOUBLE) / max(total_docs) AS doc_share
    FROM cum CROSS JOIN tot GROUP BY level_pct
    """


@query("nested_subsample_curve", oracle=_curve_oracle())
def nested_subsample_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(
        _SPARK_H32.format(s="concat('curve-', cast(doc_id as string))")
    )
    ml = F.lit(None).cast("int")
    for p, t in reversed(_CURVE_LEVELS):
        ml = F.when(u < F.lit(t), F.lit(p)).otherwise(ml)
    a = docs.select(ml.alias("ml"), "lang", "n_chars")
    g = (
        a.where(F.col("ml").isNotNull())
        .groupBy("ml", "lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("ch"),
        )
    )
    levels = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p, _ in _CURVE_LEVELS])
        ).alias("level_pct")
    )
    langs = docs.select("lang").distinct()
    grid = levels.crossJoin(langs)
    c = grid.join(
        g,
        (g.ml == grid.level_pct) & (g.lang == grid.lang),
        "left",
    ).select(
        "level_pct",
        grid.lang.alias("lang"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.coalesce("ch", F.lit(0)).cast("bigint").alias("ch"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("level_pct")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = c.select(
        "level_pct",
        "lang",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("ch").over(w).cast("bigint").alias("cch"),
    )
    tot = docs.agg(F.count("*").alias("total_docs"))
    return (
        cum.join(F.broadcast(tot))
        .groupBy("level_pct")
        .agg(
            F.sum("cn").cast("bigint").alias("n_docs"),
            F.sum("cch").cast("bigint").alias("sum_chars"),
            F.sum(F.when(F.col("cn") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_langs"),
            (
                F.sum("cn").cast("double") / F.max("total_docs")
            ).alias("doc_share"),
        )
    )


# ---------------------------------------------------------------------------
# Pretraining source-mixture weights: per source, mean quality (the
# text_quality chain, micro-quantized) -> sampling weight proportional
# to quality^2 -> normalized mixture share and expected token draw per
# 1M-token budget - the static DoReMi-style mixture table a pretraining
# run feeds its sampler ("src7 is 4% of tokens but 9% of the mix; src3
# is downweighted 3x"). quality_pruning_curve sets the DROP cutoff;
# this sets the RESAMPLING weights for what survives.
#
# Determinism: per-source quality means come from exact micro sums; the
# squared weight and the normalization are mirrored IEEE chains on
# those exact-sum-derived doubles, floor-quantized at nano.
#
# Scale notes (100 TB): per-row quality math + ONE bounded source-keyed
# shuffle with map-side partials; the normalization is a 1-row
# broadcast back over the 20-row source table.
@query(
    "source_mixture_weights",
    oracle=f"""
    WITH q AS (
        SELECT source, len(toks) AS n_toks,
               {oracle_quality_micro()} AS q_micro
        FROM (SELECT source, {_OT} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               CAST(sum(q_micro) AS BIGINT) AS q_sum
        FROM q GROUP BY 1
    ),
    w AS (
        SELECT source, n_docs, n_tokens,
               (CAST(q_sum AS DOUBLE) / (1000000.0 * n_docs))
               * (CAST(q_sum AS DOUBLE) / (1000000.0 * n_docs)) AS w_raw,
               CAST(floor((CAST(q_sum AS DOUBLE) / (1000000.0 * n_docs))
                   * (CAST(q_sum AS DOUBLE) / (1000000.0 * n_docs))
                   * 1000000000000 + 0.5) AS BIGINT) AS w_pico
        FROM s
    ),
    t AS (SELECT CAST(sum(w_pico) AS BIGINT) AS w_tot FROM w)
    SELECT source, n_docs, n_tokens,
           floor(sqrt(w_raw) * 1000000000 + 0.5) / 1000000000
               AS mean_quality,
           floor(CAST(CAST(w_pico AS VARCHAR) AS DOUBLE) / CAST(t.w_tot AS DOUBLE)
                 * 1000000000 + 0.5) / 1000000000 AS mixture_share,
           CAST(floor(CAST(CAST(w_pico AS VARCHAR) AS DOUBLE) / CAST(t.w_tot AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT) AS tokens_per_million
    FROM w CROSS JOIN t
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.select("source", tokens("text").alias("t"))
        .where(F.size("t") > 0)
        .select("source", F.size("t").alias("n_toks"), quality_micro().alias("qm"))
    )
    s = q.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum(F.col("qm").cast("decimal(38,0)")).cast("bigint").alias("q_sum"),
    )
    mean_q = F.col("q_sum").cast("double") / (
        F.lit(1_000_000.0) * F.col("n_docs")
    )
    # r12 review find (the only double-accumulating fold left in the
    # tree): summing the per-source w_raw DOUBLES folds in engine- and
    # partitioning-dependent order, so an ulp wiggle in w_tot could
    # straddle the 1e-9 share quantization. Quantize each weight to
    # exact integer picos FIRST (floor on identical doubles is
    # cross-engine deterministic), sum exactly, and divide once - the
    # repo's exact-integer-moments convention.
    w_pico = (
        F.floor(mean_q * mean_q * F.lit(1_000_000_000_000) + F.lit(0.5))
        .cast("bigint")
    )
    w = s.select(
        "source",
        "n_docs",
        "n_tokens",
        (mean_q * mean_q).alias("w_raw"),
        w_pico.alias("w_pico"),
    )
    t = w.agg(F.sum(F.col("w_pico").cast("decimal(38,0)")).cast("bigint").alias("w_tot"))

    def q9(col):
        return F.floor(col * F.lit(1_000_000_000) + F.lit(0.5)) / F.lit(
            1_000_000_000
        )

    share = F.col("w_pico").cast("double") / F.col("w_tot").cast("double")
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        q9(F.sqrt(F.col("w_raw"))).alias("mean_quality"),
        q9(share).alias("mixture_share"),
        F.floor(share * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("tokens_per_million"),
    )


# ---------------------------------------------------------------------------
# Training-shard balance audit: assign every document to one of 64
# data-loader shards by content-independent hash and report per-shard
# doc/token counts plus the global imbalance ratios (max/mean for docs
# and tokens) - the pre-flight check before a distributed training run,
# where one hot shard stalls every synchronous step (token imbalance is
# the one that matters; doc-count balance lies when lengths skew).
#
# Determinism: shard = md5-h32 mod 64 (identical cross-engine); counts
# exact; the imbalance ratios are single divisions computed against the
# 1-row totals.
#
# Scale notes (100 TB): per-row hash + ONE bounded 64-key shuffle with
# map-side partials; ratios run on the 64-row table.
_SHARD_N = 64
_SHARD_H_S = _SPARK_H32.format(s="concat('shard:', cast(doc_id as string))")
_SHARD_H_D = _DUCK_H32.format(s="concat('shard:', CAST(doc_id AS VARCHAR))")


@query(
    "shard_balance_audit",
    oracle=f"""
    WITH a AS (
        SELECT ({_SHARD_H_D}) % {_SHARD_N} AS shard,
               len({_OT}) AS n_toks
        FROM documents
    ),
    s AS (
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens
        FROM a GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                 CAST(sum(n_tokens) AS BIGINT) AS tt,
                 CAST(count(*) AS BIGINT) AS n_shards,
                 CAST(max(n_tokens) AS BIGINT) AS mx_t,
                 CAST(max(n_docs) AS BIGINT) AS mx_d
          FROM s)
    SELECT s.shard, s.n_docs, s.n_tokens,
           CAST(t.mx_d AS DOUBLE) * CAST(t.n_shards AS DOUBLE)
               / CAST(t.td AS DOUBLE) AS doc_imbalance,
           CAST(t.mx_t AS DOUBLE) * CAST(t.n_shards AS DOUBLE)
               / CAST(t.tt AS DOUBLE) AS token_imbalance
    FROM s CROSS JOIN t
    """,
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        (F.expr(_SHARD_H_S) % _SHARD_N).alias("shard"),
        F.size(tokens("text")).alias("n_toks"),
    )
    s = a.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    t = s.agg(
        F.sum("n_docs").cast("bigint").alias("td"),
        F.sum("n_tokens").cast("bigint").alias("tt"),
        F.count("*").cast("bigint").alias("n_shards"),
        F.max("n_tokens").cast("bigint").alias("mx_t"),
        F.max("n_docs").cast("bigint").alias("mx_d"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "shard",
        "n_docs",
        "n_tokens",
        (
            F.col("mx_d").cast("double")
            * F.col("n_shards").cast("double")
            / F.col("td").cast("double")
        ).alias("doc_imbalance"),
        (
            F.col("mx_t").cast("double")
            * F.col("n_shards").cast("double")
            / F.col("tt").cast("double")
        ).alias("token_imbalance"),
    )


# ---------------------------------------------------------------------------
# Curriculum stage assignment: split the corpus into a 3x3 grid of
# (quality tercile x length tercile) and count docs/tokens per cell -
# the staging table a curriculum-training run samples from (start
# short+clean, end long+hard). Tercile cuts are EXACT lower-quantile
# boundaries from cumulative counts (the segment_price_quartiles
# device), so stage membership is set-defined, not approximate.
#
# Scale notes (100 TB): per-row quality/length math; each cut table
# derives from a value-domain-sized cumulative window; the two 1-row
# cut relations broadcast back and the final cell rollup is 9 rows.
@query(
    "curriculum_stage_assignment",
    oracle=f"""
    WITH q AS (
        SELECT len(toks) AS n_toks,
               {oracle_quality_micro()} AS q_micro
        FROM (SELECT {_OT} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    qc AS (
        SELECT q_micro, sum(c) OVER (ORDER BY q_micro
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n
        FROM (SELECT q_micro, CAST(count(*) AS BIGINT) AS c
              FROM q GROUP BY 1)
    ),
    qcut AS (
        SELECT min(CASE WHEN 3 * cum >= n THEN q_micro END) AS q1,
               min(CASE WHEN 3 * cum >= 2 * n THEN q_micro END) AS q2
        FROM qc
    ),
    lc AS (
        SELECT n_toks, sum(c) OVER (ORDER BY n_toks
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER () AS n
        FROM (SELECT n_toks, CAST(count(*) AS BIGINT) AS c
              FROM q GROUP BY 1)
    ),
    lcut AS (
        SELECT min(CASE WHEN 3 * cum >= n THEN n_toks END) AS l1,
               min(CASE WHEN 3 * cum >= 2 * n THEN n_toks END) AS l2
        FROM lc
    )
    SELECT CASE WHEN q.q_micro <= qcut.q1 THEN 0
                WHEN q.q_micro <= qcut.q2 THEN 1 ELSE 2 END AS q_stage,
           CASE WHEN q.n_toks <= lcut.l1 THEN 0
                WHEN q.n_toks <= lcut.l2 THEN 1 ELSE 2 END AS len_stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(q.n_toks) AS BIGINT) AS n_tokens
    FROM q CROSS JOIN qcut CROSS JOIN lcut
    GROUP BY 1, 2
    """,
)
def curriculum_stage_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.select(tokens("text").alias("t"))
        .where(F.size("t") > 0)
        .select(F.size("t").alias("n_toks"), quality_micro().alias("q_micro"))
    )
    # Scale-gated persist (r17): `q` feeds both tercile-cut histograms
    # and the final stage rollup - 3 runs of the tokenize + quality
    # scoring per plan. No-op at fixture scale (the r16 cheap-subtree
    # lesson); at corpus scale the re-tokenizes are pure added CPU, so
    # the 2-int-per-doc relation persists (disk-backed) once the scan
    # fills the cores.
    q = caches.persist_when_scaled(q, docs)

    def cuts(col: str, alias1: str, alias2: str):
        hist = q.groupBy(col).agg(F.count("*").alias("c"))
        w_cum = W.orderBy(col).rowsBetween(W.unboundedPreceding, W.currentRow)
        w_all = W.orderBy(col).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        cc = hist.select(
            col,
            F.sum("c").over(w_cum).alias("cum"),
            F.sum("c").over(w_all).alias("n"),
        )
        return cc.agg(
            F.min(
                F.when(3 * F.col("cum") >= F.col("n"), F.col(col))
            ).alias(alias1),
            F.min(
                F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col(col))
            ).alias(alias2),
        )

    qcut = cuts("q_micro", "q1", "q2")
    lcut = cuts("n_toks", "l1", "l2")
    q_stage = (
        F.when(F.col("q_micro") <= F.col("q1"), 0)
        .when(F.col("q_micro") <= F.col("q2"), 1)
        .otherwise(2)
    )
    len_stage = (
        F.when(F.col("n_toks") <= F.col("l1"), 0)
        .when(F.col("n_toks") <= F.col("l2"), 1)
        .otherwise(2)
    )
    return (
        q.crossJoin(F.broadcast(qcut))
        .crossJoin(F.broadcast(lcut))
        .groupBy(q_stage.alias("q_stage"), len_stage.alias("len_stage"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
