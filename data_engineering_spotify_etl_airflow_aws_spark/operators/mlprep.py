"""ML-data-preparation operators: BM25 retrieval ranking, hashing-trick
featurization, weighted reservoir sampling, kNN label-quality eval,
Bloom-filter semi-join pruning, and unigram-LM quality filtering.

These are the training-data-pipeline primitives past the dedup/similarity
families (operators/dedup.py, similarity.py): scoring documents for
retrieval, turning tokens into fixed-width features, sampling by
importance weight, checking label quality against embedding neighbors,
pruning a probe side before an expensive join, and CCNet-style LM
filtering (here with a unigram model - the perplexity-filter shape
without an external LM artifact).

Cross-engine determinism: every ranking/score is either pure integer
arithmetic or a double quantized to micro-units BEFORE any re-aggregation
(sums of quantized ints are exact and order-free; a sum of raw doubles is
partition-order-dependent). Hash-derived randomness is the shared
md5-prefix h32 (operators/dedup.py) so both engines draw identical
"uniforms". ln() is the one library call both engines evaluate on
identical inputs; its value is never re-summed un-quantized.

Scale notes (100 TB) per operator; the common discipline: corpus-sized
relations only ever shuffle on high-entropy keys (doc_id, token), and
every broadcast relation is bounded by construction (fixed-count picks,
a fixed bit-array domain, a bounded vocabulary cut).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from .. import caches
from ..functions import (
    ORACLE_TOKENS,
    oracle_cosine,
    oracle_exact_double,
    tokens,
    vec_double,
)
from ..registry import query
from ..tables import load_table
from .dedup import _DUCK_H32, _SPARK_H32

# BM25 constants (Robertson k1/b defaults; exact binary: 0.25/0.75 are
# dyadic, 1.2/2.2 parse to the same nearest-double in both engines)
_BM25_K1 = "1.2"
_BM25_K1P1 = "2.2"
_BM25_TERMS = ("join", "vector", "stream", "slow")
_BM25_TOP = 20

_FH_DOCS = 50  # fixed-count doc pick for the feature-hash demo output
_FH_BUCKETS = 16

_WSW_K = 5  # weighted sample: k docs per lang

_KNN_QUERIES = 64
_KNN_K = 5

_BLOOM_BITS = 8192
_BLOOM_PRICE = 450_000.0

_ULM_FLAG_U = -3_700_000  # flag docs whose mean token logprob < -3.7


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, tok) exploded token stream - the shared base."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    )


_DUCK_TOK_TABLE = f"""
        SELECT doc_id, lang, unnest({ORACLE_TOKENS.format(col='text')}) AS tok
        FROM documents
"""


# ---------------------------------------------------------------------------
# BM25 ranking of documents against a fixed disjunctive term query - the
# classic retrieval scorer (and the hard-negative miner's first stage).
# Corpus statistics (df per term, avgdl) come from exact integer counts;
# each (doc, term) partial score is a deterministic double (identical
# IEEE sequence both engines, constants chosen dyadic-or-parse-equal)
# QUANTIZED to picounits before the per-doc sum, so the sum is an exact
# integer regardless of aggregation order, and the top-20 rides integer
# ordering with doc_id tiebreak.
#
# Scale notes (100 TB): tokenization never shuffles full text - the
# exploded (doc_id, tok) stream aggregates to per-doc tf for the FOUR
# query terms only (filter pushed before the tf agg); df/avgdl are
# one-row / |terms|-row partial aggs that broadcast; the final top-20 is
# TakeOrderedAndProject (map-side heap, no global sort).
@query(
    "bm25_doc_ranking",
    oracle=f"""
    WITH tok AS ({_DUCK_TOK_TABLE}),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(CAST(sum(dl) AS VARCHAR) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, tok AS term, count(*) AS tf
        FROM tok WHERE tok IN {tuple(_BM25_TERMS)!r}
        GROUP BY doc_id, tok
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    part AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                   * (tf.tf * {_BM25_K1P1})
                   / (tf.tf + {_BM25_K1}
                      * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl)))
                   * 1000000000000 + 0.5) AS BIGINT) AS score_p
        FROM tf
        JOIN df USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    ),
    scored AS (
        SELECT doc_id, CAST(sum(score_p) AS BIGINT) AS score_p,
               count(*) AS n_terms
        FROM part GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms_matched,
           round(CAST(CAST(score_p AS VARCHAR) AS DOUBLE) / 1000000000000, 6) AS bm25_score
    FROM scored
    ORDER BY score_p DESC, doc_id
    LIMIT {_BM25_TOP}
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persists (r17): dl (2 consumers) and tf (2 consumers)
    # each re-run the tokenize+explode subtree - 3 full tokenize passes
    # per plan. At fixture scale an unconditional persist of dl LOST
    # (r16 A/B min-of-3 0.77s -> 0.90s: duplicated branches ride idle
    # cores); at corpus scale re-tokenizing is pure added CPU, so the
    # bounded rollups (dl: one row/doc; tf: docs x |_BM25_TERMS|)
    # persist once the scan fills the cores. The full token stream
    # stays unpersisted at every scale (unbounded; the heaps lesson).
    tok = _doc_tokens(spark, sf_dir).select("doc_id", "tok")
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    dl = caches.persist_when_scaled(dl, tok)
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        tok.where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count("*").alias("tf"))
    )
    tf = caches.persist_when_scaled(tf, tok)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    k1 = F.expr(_BM25_K1)
    k1p1 = F.expr(_BM25_K1P1)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    score = (
        idf
        * (F.col("tf") * k1p1)
        / (
            F.col("tf")
            + k1
            * (
                F.lit(0.25)
                + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
            )
        )
    )
    part = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(score * 1_000_000_000_000 + 0.5)
            .cast("bigint")
            .alias("score_p"),
        )
    )
    scored = part.groupBy("doc_id").agg(
        F.sum("score_p").cast("bigint").alias("score_p"),
        F.count("*").alias("n_terms"),
    )
    return (
        scored.orderBy(F.desc("score_p"), "doc_id")
        .limit(_BM25_TOP)
        .select(
            "doc_id",
            F.col("n_terms").cast("bigint").alias("n_terms_matched"),
            F.round(
                F.col("score_p").cast("double") / 1_000_000_000_000, 6
            ).alias("bm25_score"),
        )
    )


# ---------------------------------------------------------------------------
# Hashing-trick featurization: bucket every token into a fixed
# _FH_BUCKETS-dim count vector (the linear-model / Vowpal-Wabbit input
# encoding) - emitted long-form (doc_id, bucket, n_tokens) for a
# fixed-count md5-order doc pick so the registered output is bounded.
# The bucket hash is the shared md5-h32 (salted 'fht:'), identical in
# both engines; counts are exact ints.
#
# Scale notes (100 TB): the full-corpus path is one (doc_id, bucket)
# partial agg over the exploded stream - no vocabulary table at all,
# which is the point of feature hashing; the 50-doc pick broadcasts
# (TakeOrderedAndProject keeps the pick itself map-side).
_FH_DOC_H_SPARK = _SPARK_H32.format(s="concat('fhd:', cast(doc_id as string))")
_FH_DOC_H_DUCK = _DUCK_H32.format(s="concat('fhd:', CAST(doc_id AS VARCHAR))")
_FH_TOK_H_SPARK = _SPARK_H32.format(s="concat('fht:', tok)")
_FH_TOK_H_DUCK = _DUCK_H32.format(s="concat('fht:', tok)")


@query(
    "feature_hash_counts",
    oracle=f"""
    WITH picked AS (
        SELECT doc_id FROM documents
        ORDER BY {_FH_DOC_H_DUCK}, doc_id LIMIT {_FH_DOCS}
    ),
    tok AS ({_DUCK_TOK_TABLE})
    SELECT tok.doc_id,
           {_FH_TOK_H_DUCK} % {_FH_BUCKETS} AS bucket,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM tok JOIN picked USING (doc_id)
    GROUP BY tok.doc_id, bucket
    """,
)
def feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    picked = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy(F.expr(_FH_DOC_H_SPARK).asc(), F.col("doc_id").asc())
        .limit(_FH_DOCS)
    )
    tok = _doc_tokens(spark, sf_dir).select("doc_id", "tok")
    return (
        tok.join(F.broadcast(picked), "doc_id")
        .select(
            "doc_id",
            (F.expr(_FH_TOK_H_SPARK) % _FH_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement, k per language, weight =
# n_chars - the importance-sampling primitive for corpus mixing (longer
# docs proportionally likelier, no doc twice). Efraimidis-Spirakis via
# exponential clocks: key = -ln(u)/w with u a deterministic md5-derived
# uniform in (0, 1]; the k smallest keys per group win. The per-group
# rank is a row_number window that Catalyst prunes map-side
# (WindowGroupLimit), so no group ever materializes fully.
#
# Scale notes (100 TB): stateless per-row key derivation, one
# lang-keyed window with map-side group-limit pruning; output k x
# #langs rows. Key ordering is on raw doubles: two docs landing within
# 1 ulp of each other across engines is the only divergence risk, and
# the doc_id tiebreak plus continuous keys make that measure-zero in
# practice (same trust the similarity family places in cosine scores).
_WSW_H_DUCK = _DUCK_H32.format(s="concat('wsw:', CAST(doc_id AS VARCHAR))")
_WSW_H_SPARK = _SPARK_H32.format(s="concat('wsw:', cast(doc_id as string))")


@query(
    "weighted_sample_docs",
    oracle=f"""
    WITH keyed AS (
        SELECT lang, doc_id, n_chars,
               -ln(({_WSW_H_DUCK} + 1) / 4294967296.0)
                   / CAST(n_chars AS DOUBLE) AS k
        FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id, n_chars,
               round(k, 6) AS sample_key,
               row_number() OVER (
                   PARTITION BY lang ORDER BY k, doc_id
               ) AS rank
        FROM keyed
    )
    SELECT lang, rank, doc_id, n_chars, sample_key
    FROM ranked WHERE rank <= {_WSW_K}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (F.expr(_WSW_H_SPARK) + 1) / F.lit(4294967296.0)
    keyed = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        (-F.log(u) / F.col("n_chars").cast("double")).alias("k"),
    )
    w = W.partitionBy("lang").orderBy("k", "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _WSW_K)
        .select(
            "lang",
            "rank",
            "doc_id",
            "n_chars",
            F.round("k", 6).alias("sample_key"),
        )
    )


# ---------------------------------------------------------------------------
# kNN label-consistency eval: for a fixed 64-query pick, find the 5
# nearest neighbors by cosine among the REST of the corpus, majority-vote
# their labels (ties -> smallest label), and compare to the query's own
# label - the standard label-noise probe over an embedding column.
# Vote counts are exact ints; the only doubles are the cosine scores,
# shared bit-identically with the similarity family (same fold).
#
# Scale notes (100 TB): the bounded query set broadcasts; the corpus
# streams once through the scoring join; per-query top-5 is a window
# keyed by query_id (64-way). The full-corpus variant would route
# through the IVF index (similarity.py) - this op's contract is the
# vote/compare semantics, which are index-agnostic.
_KNN_H_SPARK = _SPARK_H32.format(s="concat('knnq:', cast(vec_id as string))")
_KNN_H_DUCK = _DUCK_H32.format(s="concat('knnq:', CAST(vec_id AS VARCHAR))")


@query(
    "knn_label_accuracy",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
    ),
    q AS (SELECT vec_id, emb, label FROM v
          ORDER BY {_KNN_H_DUCK}, vec_id LIMIT {_KNN_QUERIES}),
    nn AS (
        SELECT query_id, true_label, cand_label FROM (
            SELECT a.vec_id AS query_id, a.label AS true_label,
                   b.label AS cand_label,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {oracle_cosine('a.emb', 'b.emb')} DESC,
                                b.vec_id
                   ) AS rn
            FROM q a JOIN v b ON b.vec_id != a.vec_id
        ) WHERE rn <= {_KNN_K}
    ),
    votes AS (
        SELECT query_id, true_label, cand_label AS pred_label,
               count(*) AS n_votes,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY count(*) DESC, cand_label
               ) AS vr
        FROM nn GROUP BY query_id, true_label, cand_label
    )
    SELECT query_id, true_label, pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS is_correct
    FROM votes WHERE vr = 1
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import l2_norm

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec_double("embedding").alias("emb"), "label"
    )
    from ..tables import widen_small_scan

    v = widen_small_scan(v).withColumn("nrm", l2_norm(F.col("emb")))
    q = (
        v.orderBy(F.expr(_KNN_H_SPARK).asc(), F.col("vec_id").asc())
        .limit(_KNN_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("label").alias("true_label"),
        )
    )
    from .similarity import _pair_cos

    scored = (
        F.broadcast(q)
        .join(
            v.select(
                F.col("vec_id").alias("cand_id"),
                F.col("emb").alias("c_emb"),
                F.col("nrm").alias("c_nrm"),
                F.col("label").alias("cand_label"),
            ),
            F.col("cand_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            "true_label",
            "cand_id",
            "cand_label",
            _pair_cos("q_emb", "q_nrm", "c_emb", "c_nrm").alias("score"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("score"), "cand_id")
    nn = scored.withColumn("rn", F.row_number().over(wq)).where(
        F.col("rn") <= _KNN_K
    )
    votes = nn.groupBy("query_id", "true_label", "cand_label").agg(
        F.count("*").alias("n_votes")
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "cand_label")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("cand_label").alias("pred_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            F.when(F.col("cand_label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning: build a _BLOOM_BITS-bit, 3-hash Bloom
# filter over the custkeys holding a >$450k order, probe every customer
# through it, and report the exact false-positive accounting against the
# true semi-join - the runtime-filter primitive (Spark's own
# spark.sql.optimizer.runtime.bloomFilter does exactly this inside the
# planner; here it is surfaced as an auditable operator). The bit array
# is represented as the DISTINCT set of set positions - bounded by the
# filter DOMAIN (8192), not the data - so the probe joins broadcast at
# any scale, which is the entire value proposition of a Bloom prune.
#
# Scale notes (100 TB): build side = one partial-agg distinct over the
# filtered orders; probe = three broadcast semi-joins (position
# membership) + one broadcast-able truth semi-join for the audit; the
# final metric is a 1-row agg. No false negatives are possible by
# construction (every build key sets its own bits).
def _bloom_pos_duck(i: int, key: str) -> str:
    return (
        _DUCK_H32.format(s=f"concat('bf{i}:', CAST({key} AS VARCHAR))")
        + f" % {_BLOOM_BITS}"
    )


def _bloom_pos_spark(i: int, key: str) -> str:
    return (
        _SPARK_H32.format(s=f"concat('bf{i}:', cast({key} as string))")
        + f" % {_BLOOM_BITS}"
    )


@query(
    "bloom_filter_semi_join",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_totalprice > {_BLOOM_PRICE}
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            SELECT {_bloom_pos_duck(0, 'o_custkey')} AS pos FROM build
            UNION ALL
            SELECT {_bloom_pos_duck(1, 'o_custkey')} AS pos FROM build
            UNION ALL
            SELECT {_bloom_pos_duck(2, 'o_custkey')} AS pos FROM build
        )
    ),
    probe AS (
        SELECT c_custkey,
               CASE WHEN {_bloom_pos_duck(0, 'c_custkey')} IN
                        (SELECT pos FROM bits)
                    AND {_bloom_pos_duck(1, 'c_custkey')} IN
                        (SELECT pos FROM bits)
                    AND {_bloom_pos_duck(2, 'c_custkey')} IN
                        (SELECT pos FROM bits)
                    THEN 1 ELSE 0 END AS bloom_pass,
               CASE WHEN c_custkey IN (SELECT o_custkey FROM build)
                    THEN 1 ELSE 0 END AS is_member
        FROM customer
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(is_member) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN bloom_pass = 1 AND is_member = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           round(CAST(CAST(sum(CASE WHEN bloom_pass = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
               / (count(*) - sum(is_member)), 6) AS fp_rate
    FROM probe
    """,
)
def bloom_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): build (filtered distinct custkeys) has
    # 4 consumers and bits 3, re-running the orders scan 10x per plan.
    # At fixture scale an unconditional persist LOST (r16 A/B min-of-3
    # 1.10s -> 1.34s: cheap columnar scans ride idle cores); at corpus
    # scale the re-scans are pure added I/O, so both bounded relations
    # persist once the scan fills the cores.
    ord_scan = load_table(spark, sf_dir, "orders")
    build = (
        ord_scan
        .where(F.col("o_totalprice") > _BLOOM_PRICE)
        .select("o_custkey")
        .distinct()
    )
    build = caches.persist_when_scaled(build, ord_scan)
    bits = (
        build.select(F.expr(_bloom_pos_spark(0, "o_custkey")).alias("pos"))
        .unionAll(
            build.select(F.expr(_bloom_pos_spark(1, "o_custkey")).alias("pos"))
        )
        .unionAll(
            build.select(F.expr(_bloom_pos_spark(2, "o_custkey")).alias("pos"))
        )
        .distinct()
    )
    bits = caches.persist_when_scaled(bits, ord_scan)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    probe = cust.select(
        "c_custkey",
        F.expr(_bloom_pos_spark(0, "c_custkey")).alias("p0"),
        F.expr(_bloom_pos_spark(1, "c_custkey")).alias("p1"),
        F.expr(_bloom_pos_spark(2, "c_custkey")).alias("p2"),
    )
    for i in range(3):
        b = bits.select(F.col("pos").alias(f"bit{i}"))
        probe = probe.join(
            F.broadcast(b), probe[f"p{i}"] == b[f"bit{i}"], "left"
        ).withColumn(f"hit{i}", F.col(f"bit{i}").isNotNull().cast("int"))
    member = build.select(
        F.col("o_custkey").alias("m_key"), F.lit(1).alias("m_flag")
    )
    flagged = (
        probe.join(member, probe.c_custkey == member.m_key, "left")
        .select(
            (
                (F.col("hit0") + F.col("hit1") + F.col("hit2")) == 3
            )
            .cast("int")
            .alias("bloom_pass"),
            F.coalesce(F.col("m_flag"), F.lit(0)).alias("is_member"),
        )
    )
    fp = F.sum(
        F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1)
        .otherwise(0)
    )
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.sum("bloom_pass").cast("bigint").alias("n_bloom_pass"),
        F.sum("is_member").cast("bigint").alias("n_true_members"),
        fp.cast("bigint").alias("n_false_pos"),
        F.round(
            fp.cast("double") / (F.count("*") - F.sum("is_member")), 6
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality filter (the CCNet/perplexity-filter shape without an
# external LM): score every document by the mean corpus log-probability
# of its tokens and flag low-likelihood outliers per language. Each
# token's ln(count/total) is quantized to micro-units ONCE (exact int
# from then on); the per-doc mean is an exact floor-division; the
# per-lang rollup sums only quantized ints - no double ever re-sums.
#
# Scale notes (100 TB): vocab counts are one token-keyed partial agg;
# scoring joins the exploded stream to the vocab on token (the vocab of
# natural text is ~millions of rows - a plain shuffle join here; at
# bounded vocab it broadcasts, Catalyst's call via AQE); per-doc and
# per-lang rollups are partial-agg combines.
@query(
    "unigram_logprob_filter",
    oracle=f"""
    WITH tok AS ({_DUCK_TOK_TABLE}),
    vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT CAST(CAST(sum(cnt) AS VARCHAR) AS DOUBLE) AS total FROM vocab),
    lp AS (
        SELECT tok,
               CAST(floor(ln(cnt / total) * 1000000) AS BIGINT) AS lp_u
        FROM vocab CROSS JOIN tot
    ),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(floor(CAST(CAST(sum(lp_u) AS VARCHAR) AS DOUBLE) / count(*)) AS BIGINT)
                   AS avg_u
        FROM tok JOIN lp USING (tok)
        GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(CAST(sum(avg_u) AS VARCHAR) AS DOUBLE) / count(*) / 1000000, 6)
               AS mean_logprob,
           round(CAST(min(avg_u) AS DOUBLE) / 1000000, 6) AS min_logprob,
           CAST(sum(CASE WHEN avg_u < {_ULM_FLAG_U} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_flagged
    FROM per_doc
    GROUP BY lang
    """,
)
def unigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-gated persist (r17): `vocab` feeds the total agg and the
    # logprob table - plus the scoring join re-tokenizes, 3 tokenize
    # runs per plan. No-op at fixture scale (the r16 cheap-subtree
    # lesson); at corpus scale a full re-tokenize is pure added CPU, so
    # the vocabulary-bounded count table persists once the scan fills
    # the cores. The raw token stream stays unpersisted (unbounded;
    # the heaps lesson).
    tok = _doc_tokens(spark, sf_dir)
    vocab = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    vocab = caches.persist_when_scaled(vocab, tok)
    tot = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log(F.col("cnt") / F.col("total")) * 1_000_000)
        .cast("bigint")
        .alias("lp_u"),
    )
    per_doc = (
        tok.join(lp, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(F.sum("lp_u").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("avg_u")
        )
    )
    # The per-lang rollup sums avg_u (~ -4e7 worst case) over every doc
    # in the language: at ~1e12 docs/lang the BIGINT accumulator has
    # under 3x headroom before silent wraparound, while the oracle's
    # HUGEINT sum never wraps - accumulate in decimal(38,0) like the
    # moment sums elsewhere (r10 review finding, same class as the
    # degree_powerlaw_check fix).
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("avg_u").cast("decimal(38,0)")).cast("double")
            / F.count("*")
            / 1_000_000,
            6,
        ).alias("mean_logprob"),
        F.round(F.min("avg_u").cast("double") / 1_000_000, 6).alias(
            "min_logprob"
        ),
        F.sum(F.when(F.col("avg_u") < _ULM_FLAG_U, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# Distributed covariance matrix over the leading embedding dimensions -
# the single-pass moment computation behind PCA / whitening / ZCA of an
# embedding corpus (the classic prep step before dimensionality reduction
# or decorrelated quantization). Emits the upper triangle (incl. the
# diagonal = per-dim variance) of the sample covariance of dims 0..7.
#
# Determinism: components quantize to integer micro-units
# (floor(x*1e9+0.5) - pure IEEE ops identical in both engines), then ALL
# moments (sum x_i, sum x_i*x_j, n) are exact integer sums
# (decimal(38,0) / HUGEINT). cov = (n*Sxy - Sx*Sy) / (n*(n-1)) / 1e18 is
# exact-integer arithmetic until ONE double cast per term, then the same
# two IEEE divisions on both sides (1e18 is exactly representable).
#
# Scale notes (100 TB): ONE map-side-combinable agg over the corpus - 45
# running integer sums per partition, a single 1-row exchange, zero
# joins; the 36-row unpivot is driver-trivial. The 38-digit decimal cap
# bounds exactness at n*Sxy <= 1e38, i.e. ~1e9 rows at unit-scale
# components; past that, shard the agg (e.g. by a hash bucket) and merge
# the per-shard moments - the formula is associative in its sums.
_COV_D = 8  # leading dims covered (full 64x64 = same plan, 2080 sums)
_COV_CELLS = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]


def _cov_sql(elem: str, exact: str, to_double: Callable[[str], str]):
    """The moment fragments as SQL text in one dialect: the quantizing
    projection u0..u7 (elem: element {i}'s access, 1-based), the 45-sum
    aggregate and cell(i, j), the covariance cell over it. exact is the
    exact integer type, to_double its correctly rounded conversion. The
    literals are exponent-form (1e9, 0.5e0): doubles in both engines,
    where Spark SQL reads an unsuffixed 0.5 as a decimal.

    One exact-integer cast per component: sums of decimal(38,0) stay
    decimal(38,0), and the decimal(38,0) products cap at decimal(38,0),
    exact below 1e38 (per-row products are ~1e20, far inside)."""
    u = [
        f"CAST(floor({elem.format(i=i + 1)} * 1e9 + 0.5e0) AS {exact}) AS u{i}"
        for i in range(_COV_D)
    ]
    m = ["count(*) AS n"] + [f"sum(u{i}) AS s{i}" for i in range(_COV_D)]
    m += [f"sum(u{i} * u{j}) AS s{i}_{j}" for i, j in _COV_CELLS]
    den = to_double("n * (n - 1)")

    def cell(i: int, j: int) -> str:
        a, b = min(i, j), max(i, j)
        num = to_double(f"CAST(n AS {exact}) * s{a}_{b} - s{a} * s{b}")
        return f"{num} / {den} / 1e18"

    return u, m, cell


_U, _M, _CELL = _cov_sql(
    "element_at(emb, {i})", "decimal(38,0)", lambda x: f"CAST({x} AS DOUBLE)"
)
_OU, _OM, _OCELL = _cov_sql("emb[{i}]", "HUGEINT", oracle_exact_double)
_ORACLE_MOMENTS = f"""
    WITH u AS (
        SELECT {", ".join(_OU)}
        FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings)
    ),
    m AS (SELECT {", ".join(_OM)} FROM u)"""


def _moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row moment relation m over the embeddings."""
    from ..tables import widen_small_scan

    v = widen_small_scan(
        load_table(spark, sf_dir, "embeddings").select(
            vec_double("embedding").alias("emb")
        )
    )
    return v.selectExpr(*_U).selectExpr(*_M)


@query(
    "embedding_covariance_matrix",
    oracle=_ORACLE_MOMENTS
    + " UNION ALL ".join(
        f" SELECT {i} AS dim_i, {j} AS dim_j, {_OCELL(i, j)} AS cov FROM m"
        for i, j in _COV_CELLS
    ),
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = ", ".join(
        f"struct({i} AS dim_i, {j} AS dim_j, {_CELL(i, j)} AS cov)"
        for i, j in _COV_CELLS
    )
    return _moments(spark, sf_dir).selectExpr(f"inline(array({cells}))")


# ---------------------------------------------------------------------------
# PCA top component by power iteration - the step after
# embedding_covariance_matrix: estimate the leading eigenvector/value of
# the dim-0..7 covariance with two matrix-vector products, computed
# ENTIRELY from the single-pass integer moments. No driver loop, no
# per-row second pass: the corpus is touched once (the same 45-sum agg),
# and the 8x8 iteration arithmetic runs inside the one-row projection -
# the shape a 100 TB PCA wants (moments distributed, eigensolve bounded).
#
# v0 = e0, v1 = C e0 (first covariance column), v2 = C v1; eigenvalue =
# Rayleigh quotient (v2.v1)/(v1.v1), loadings = v2/||v2||, plus the
# explained-variance share eigval/trace(C). Two iterations suffice for a
# headline component estimate; more iterations are the same bounded
# projection chained.
#
# Determinism: covariance cells convert from exact integer moments
# exactly as embedding_covariance_matrix (one correctly rounded cast);
# the steps after them are one text both engines parse (_PCA_STEPS),
# every sum-of-8-products left-associated, so the IEEE sequence is
# identical; sqrt/divisions are single ops.
def _c(i: int, j: int) -> str:
    return f"c{min(i, j)}_{max(i, j)}"


def _sum(terms) -> str:
    return " + ".join(terms)


_D = range(_COV_D)
# the power-iteration steps v1, v2 and (eig, nrm, tr), one text each
_PCA_STEPS = (
    [f"{_c(i, 0)} AS v1_{i}" for i in _D],
    [_sum(f"{_c(i, j)} * v1_{j}" for j in _D) + f" AS v2_{i}" for i in _D],
    [
        f"({_sum(f'v2_{i} * v1_{i}' for i in _D)})"
        f" / ({_sum(f'v1_{i} * v1_{i}' for i in _D)}) AS eig",
        f"sqrt({_sum(f'v2_{i} * v2_{i}' for i in _D)}) AS nrm",
        f"{_sum(_c(i, i) for i in _D)} AS tr",
    ],
)


@query(
    "pca_power_iteration",
    oracle=_ORACLE_MOMENTS
    + f""",
    cv AS (SELECT {", ".join(f"{_OCELL(i, j)} AS c{i}_{j}"
                             for i, j in _COV_CELLS)} FROM m),
    p1 AS (SELECT *, {", ".join(_PCA_STEPS[0])} FROM cv),
    p2 AS (SELECT *, {", ".join(_PCA_STEPS[1])} FROM p1),
    r AS (SELECT *, {", ".join(_PCA_STEPS[2])} FROM p2)
    """
    + " UNION ALL ".join(
        f"SELECT {i} AS dim, v2_{i} / nrm AS loading,"
        f" eig AS eigenvalue, eig / tr AS explained_share FROM r"
        for i in _D
    ),
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the ONE-ROW covariance relation: without the checkpoint
    # Catalyst's project collapsing re-inlines every cov cell into every
    # downstream product - the tree grows ~8^3 copies of the decimal
    # moment arithmetic and codegen OOMs (measured). The checkpoint costs
    # one 36-column row and keeps the iteration a bounded projection.
    cv = caches.checkpoint(
        _moments(spark, sf_dir).selectExpr(
            *[f"{_CELL(i, j)} AS c{i}_{j}" for i, j in _COV_CELLS]
        )
    )
    r = cv
    for step in _PCA_STEPS:
        r = r.selectExpr("*", *step)
    rows = ", ".join(
        f"struct({i} AS dim, v2_{i} / nrm AS loading, eig AS eigenvalue,"
        f" eig / tr AS explained_share)"
        for i in _D
    )
    return r.selectExpr(f"inline(array({rows}))")


# ---------------------------------------------------------------------------
# Deterministic negative sampling for recommender training: for every
# customer, pick K parts they have NEVER ordered, drawn from a fixed
# candidate pool by hash order - the (user, item, label=0) rows a
# two-tower / matrix-factorization trainer pairs with the observed
# positives. Hash-derived "randomness" (the shared md5 h32) makes the
# draw reproducible across engines and runs - the property a training
# pipeline needs for resumable jobs and A/B-stable datasets.
#
# Scale notes (100 TB): the candidate pool is a FIXED-COUNT pick
# (_NEG_POOL rows, broadcast - bounded at any N, the round-6 seed
# rule), so users x pool is a linear _NEG_POOL-way fan-out, never a
# users x parts cross product. The anti-join against interactions and
# the per-user rank both key on high-entropy ids; row_number + rank<=K
# gets Catalyst's WindowGroupLimit map-side prune.
_NEG_POOL = 128
_NEG_K = 5

_NEG_POOL_H_S = _SPARK_H32.format(s="concat('negpool:', cast(p_partkey as string))")
_NEG_POOL_H_D = _DUCK_H32.format(s="concat('negpool:', CAST(p_partkey AS VARCHAR))")
_NEG_RANK_H_S = _SPARK_H32.format(
    s="concat('neg:', cast(o_custkey as string), ':', cast(p_partkey as string))"
)
_NEG_RANK_H_D = _DUCK_H32.format(
    s="concat('neg:', CAST(o_custkey AS VARCHAR), ':', CAST(p_partkey AS VARCHAR))"
)


@query(
    "negative_sampling_recs",
    oracle=f"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey AS p_partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    pool AS (
        SELECT p_partkey FROM part
        ORDER BY {_NEG_POOL_H_D}, p_partkey LIMIT {_NEG_POOL}
    ),
    cust AS (SELECT DISTINCT o_custkey FROM orders),
    cand AS (SELECT c.o_custkey, p.p_partkey FROM cust c CROSS JOIN pool p),
    neg AS (
        SELECT cand.o_custkey, cand.p_partkey
        FROM cand ANTI JOIN inter USING (o_custkey, p_partkey)
    ),
    r AS (
        SELECT o_custkey, p_partkey,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY {_NEG_RANK_H_D}, p_partkey) AS neg_rank
        FROM neg
    )
    SELECT o_custkey, p_partkey, CAST(neg_rank AS BIGINT) AS neg_rank
    FROM r WHERE neg_rank <= {_NEG_K}
    """,
)
def negative_sampling_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", F.col("l_partkey").alias("p_partkey"))
        .distinct()
    )
    pool = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey")
        .withColumn("h", F.expr(_NEG_POOL_H_S))
        .orderBy("h", "p_partkey")
        .limit(_NEG_POOL)
        .select("p_partkey")
    )
    cand = (
        orders.select("o_custkey").distinct().crossJoin(F.broadcast(pool))
    )
    neg = cand.join(inter, ["o_custkey", "p_partkey"], "left_anti")
    w = W.partitionBy("o_custkey").orderBy(F.expr(_NEG_RANK_H_S), "p_partkey")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= _NEG_K)
        .select(
            "o_custkey",
            "p_partkey",
            F.col("neg_rank").cast("bigint").alias("neg_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Recsys offline evaluation harness: hash-split the (customer, part)
# interaction set 80/20 into train/test, build item-item co-occurrence
# recommendations FROM TRAIN ONLY, score a FIXED hash-picked panel of
# test users' candidates as sum of co-occurrence counts with their train
# items, and report panel hit-rate@K - the leakage-safe offline eval
# loop every recommender ships with (the hash split is the same device
# as hash_split_assignment, so membership is reproducible row-by-row
# across engines and runs; the eval panel is the same fixed-count
# hash-order pick as the similarity query set - at 100 TB you eval a
# bounded user panel, never the full user base).
#
# Determinism: split membership and all scores are exact integers; both
# rank cuts (top-M co-items per item, top-K candidates per user) break
# ties by id. The final hit_rate is one IEEE division of exact counts.
#
# Scale notes (100 TB): customer baskets are activity-bounded (~tens of
# parts at any SF in this schema), so in-group pair fan-out is C(basket,2)
# per user - linear in interactions; the per-item candidate list is
# capped at M=20 BEFORE the user join (WindowGroupLimit map-side prune),
# bounding the scoring fan-out at |train(u)| x M per user. Every join
# keys on a high-entropy id (user or item); the result is a 1-row
# reduction, nothing is broadcast or collected.
_REC_M = 20  # co-item candidates kept per item
_REC_K = 10  # recommendations evaluated per user
_REC_MIN_SUPPORT = 2  # co-occurrence pairs below this never rank
# Fixed-count eval-user panel (md5-hash-order pick - the same bounded-
# pick device as the similarity query set): the model is built from ALL
# of train, but scoring/ranking/hit-counting run only for this panel,
# so the eval side stays O(panel) at any corpus size instead of scoring
# every user. r7 change per the r6 verdict stretch item: scoring all
# ~15k users was ~40% of the suite's heaviest query for no extra
# statistical value.
_REC_EVAL_N = 2000
_REC_EVAL_H_S = _SPARK_H32.format(s="concat('receval:', cast(u as string))")
_REC_EVAL_H_D = _DUCK_H32.format(s="concat('receval:', CAST(u AS VARCHAR))")
_REC_SPLIT_H_S = _SPARK_H32.format(
    s="concat('recsplit:', cast(u as string), ':', cast(i as string))"
)
_REC_SPLIT_H_D = _DUCK_H32.format(
    s="concat('recsplit:', CAST(u AS VARCHAR), ':', CAST(i AS VARCHAR))"
)


@query(
    "recsys_holdout_eval",
    oracle=f"""
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    tagged AS (
        SELECT u, i, ({_REC_SPLIT_H_D}) % 5 = 0 AS is_test FROM inter
    ),
    train AS (SELECT u, i FROM tagged WHERE NOT is_test),
    test AS (SELECT u, i FROM tagged WHERE is_test),
    cooc AS (
        SELECT a.i AS j, b.i AS i, CAST(count(*) AS BIGINT) AS c
        FROM train a JOIN train b ON a.u = b.u AND a.i <> b.i
        GROUP BY 1, 2
        HAVING count(*) >= {_REC_MIN_SUPPORT}
    ),
    capped AS (
        SELECT j, i, c FROM (
            SELECT *, row_number() OVER (
                PARTITION BY j ORDER BY c DESC, i) AS rm
            FROM cooc
        ) WHERE rm <= {_REC_M}
    ),
    evalp_all AS (
        SELECT t.u, t.i FROM test t
        SEMI JOIN (SELECT DISTINCT u FROM train) tu ON t.u = tu.u
    ),
    panel AS (
        SELECT u FROM (SELECT DISTINCT u FROM evalp_all)
        ORDER BY ({_REC_EVAL_H_D}), u LIMIT {_REC_EVAL_N}
    ),
    trainp AS (
        SELECT t.u, t.i FROM train t SEMI JOIN panel p ON t.u = p.u
    ),
    scored AS (
        SELECT t.u, cp.i, CAST(sum(cp.c) AS BIGINT) AS score
        FROM trainp t JOIN capped cp ON cp.j = t.i
        GROUP BY 1, 2
    ),
    fresh AS (
        SELECT s.u, s.i, s.score
        FROM scored s ANTI JOIN trainp tr ON s.u = tr.u AND s.i = tr.i
    ),
    recs AS (
        SELECT u, i FROM (
            SELECT *, row_number() OVER (
                PARTITION BY u ORDER BY score DESC, i) AS rk
            FROM fresh
        ) WHERE rk <= {_REC_K}
    ),
    evalp AS (
        SELECT e.u, e.i FROM evalp_all e SEMI JOIN panel p ON e.u = p.u
    ),
    hits AS (
        SELECT e.u, e.i FROM evalp e SEMI JOIN recs r
            ON e.u = r.u AND e.i = r.i
    )
    SELECT CAST((SELECT count(DISTINCT u) FROM evalp) AS BIGINT)
               AS n_eval_users,
           CAST((SELECT count(*) FROM evalp) AS BIGINT) AS n_eval_pairs,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM hits) AS DOUBLE)
               / CAST((SELECT count(*) FROM evalp) AS DOUBLE)
               AS hit_rate
    """,
)
def recsys_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    # Persist the tagged interaction base: train/test are filters over it
    # and the downstream DAG references train five times (baskets, the
    # train-user semi-join, trainp twice via the anti-join, scoring) and
    # test twice - without the persist the executed plan re-runs the
    # orders x lineitem join + distinct + md5 split hash for EVERY
    # reference (r16 measurement: 64 parquet scans / 104 Exchanges in one
    # plan; guide §5 "reused AND recompute is more expensive").
    tagged = caches.persist(
        inter.withColumn("is_test", F.expr(_REC_SPLIT_H_S) % 5 == 0),
        StorageLevel.MEMORY_AND_DISK,
    )
    train = tagged.where(~F.col("is_test")).select("u", "i")
    test = tagged.where("is_test").select("u", "i")
    # in-group ordered-pair expansion from the per-user sorted basket
    # (the market_basket device) instead of a train x train self-join:
    # one groupBy + explode replaces a double shuffle + equi-join with
    # the same C(basket,2) x 2 fan-out. Wall-clock at sf0.1 is join-
    # shape-insensitive (~11s warm - the cost is the 16.5M-pair volume
    # itself, this query IS the suite's heaviest composite); the win is
    # one fewer corpus exchange, which is what matters at 100 TB.
    baskets = train.groupBy("u").agg(
        F.array_sort(F.collect_set("i")).alias("ps")
    )
    canon = F.explode(
        F.flatten(
            F.expr(
                "transform(ps, (x, idx) -> transform("
                "slice(ps, idx + 2, size(ps)), "
                "y -> struct(x AS j, y AS i)))"
            )
        )
    )
    half = baskets.select(canon.alias("p")).select(
        F.col("p.j").alias("j"), F.col("p.i").alias("i")
    )
    cooc = (
        half.unionAll(
            half.select(F.col("i").alias("j"), F.col("j").alias("i"))
        )
        .groupBy("j", "i")
        .agg(F.count("*").alias("c"))
        # min-support sparsification (standard co-occurrence pruning):
        # c == 1 pairs are noise for ranking and ~70% of the volume; the
        # filter runs BEFORE the per-item cap window, cutting its input
        # from 16.5M to ~5M rows at sf0.1
        .where(F.col("c") >= _REC_MIN_SUPPORT)
    )
    wm = W.partitionBy("j").orderBy(F.desc("c"), "i")
    capped = (
        cooc.withColumn("rm", F.row_number().over(wm))
        .where(F.col("rm") <= _REC_M)
        .select("j", "i", "c")
    )
    # The model (capped co-occurrence lists) comes from ALL of train;
    # everything downstream is confined to the fixed hash-picked eval
    # panel, so scoring fan-out is |train(u)| x M over _REC_EVAL_N users
    # regardless of corpus size. The panel broadcast is 2000 ints.
    evalp_all = test.join(train.select("u").distinct(), "u", "left_semi")
    # r16: `panel` is broadcast into two joins and `evalp` feeds both the
    # denominator agg and the hit probe - persist both tiny relations
    # (<= _REC_EVAL_N users / their test pairs) so the evalp_all
    # distinct + hash-order pick behind them runs once, not four times
    # (guide §5; these are real multi-stage subtrees even over the
    # cached split, unlike the reverted cheap-scan class).
    panel = caches.persist(
        evalp_all.select("u")
        .distinct()
        .orderBy(F.expr(_REC_EVAL_H_S), "u")
        .limit(_REC_EVAL_N),
    )
    trainp = train.join(F.broadcast(panel), "u", "left_semi")
    scored = (
        trainp.withColumnRenamed("i", "j")
        .join(capped, "j")
        .groupBy("u", "i")
        .agg(F.sum("c").alias("score"))
    )
    fresh = scored.join(trainp, ["u", "i"], "left_anti")
    wk = W.partitionBy("u").orderBy(F.desc("score"), "i")
    recs = (
        fresh.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= _REC_K)
        .select("u", "i")
    )
    evalp = caches.persist(
        evalp_all.join(F.broadcast(panel), "u", "left_semi")
    )
    hits = evalp.join(recs, ["u", "i"], "left_semi")
    eu = evalp.agg(
        F.count_distinct("u").alias("n_eval_users"),
        F.count("*").alias("n_eval_pairs"),
    )
    hc = hits.agg(F.count("*").alias("n_hits"))
    return eu.crossJoin(hc).select(
        F.col("n_eval_users").cast("bigint").alias("n_eval_users"),
        F.col("n_eval_pairs").cast("bigint").alias("n_eval_pairs"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (
            F.col("n_hits").cast("double")
            / F.col("n_eval_pairs").cast("double")
        ).alias("hit_rate"),
    )
