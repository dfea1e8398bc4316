"""Corpus filtering / safety operators on the documents fixture.

The reference's only row filters are scalar predicates (P5-P9,
`spotify-analysis.sql:95-125`); a pretraining-corpus pipeline filters on
CONTENT: PII redaction, repetition-based quality gating (Gopher-style),
benchmark decontamination, and per-document salient-term extraction.
These four queries extend SURVEY.md §2b's text-analysis family with the
filtering surface a 100 TB curation run needs.

Determinism contract:
  * regexes restricted to syntax with identical semantics in Java regex
    (Spark) and RE2 (DuckDB): character classes, \\d, \\b, {m,}, no
    backrefs or lookaround.
  * all ratio math is single-divide IEEE doubles from exact integers;
    term weighting uses an UNLOGGED BM25-style idf
    (N - df + 0.5)/(df + 0.5) because ln() is not guaranteed
    correctly-rounded across libm implementations, while +,-,*,/ are -
    scores hash bit-identical cross-engine.
  * the PII fixture is planted IN-QUERY (docs with doc_id % 7 == 0 get a
    deterministic email+url+ip suffix on both engines), so redaction
    counts are non-trivial and fully oracle-checked without touching the
    read-only testdata.

Scale notes (100 TB):
  * pii_scrub_docs: pure per-row projection - no shuffle at all.
  * doc_repetition_stats: explode -> two partial-agg shuffles on
    (doc_id, trigram) then doc_id - high-entropy keys, map-side combine.
  * benchmark_decontam_overlap: the benchmark side is tiny by
    construction (decontamination always checks against a fixed eval
    suite), so its exploded n-gram set is BROADCAST - the corpus side
    never shuffles; flagged docs come from one partial agg on doc_id.
  * tfidf_top_terms: tf is one (doc_id, term) shuffle; df reuses the tf
    relation (one more agg on term); N is a 1-row broadcast cross join
    (never .collect()); top-5 is a per-doc window - partitioned by
    doc_id, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .. import caches
from ..functions import (
    ORACLE_TOKENS,
    ngrams,
    oracle_ngrams,
    oracle_quality_micro,
    quality_micro,
    tokens,
)
from ..registry import query
from ..tables import load_table, widen_small_scan

_OT = ORACLE_TOKENS.format(col="text")


# ---------------------------------------------------------------------------
# PII redaction. Scrub order is part of the contract (URL first so its
# userinfo/host never half-matches the email pattern, then email, then
# IPv4); each count is taken on the text the pattern actually sees.
# Patterns stay inside the Java≡RE2 common subset (no lookarounds - RE2
# has none) so Spark and the DuckDB oracle compile the same automaton:
#   * URL: greedy \S+ but the final char must not be sentence punctuation,
#     so "see http://x.org/p." redacts "http://x.org/p" not "...p.".
#   * IPv4: octets constrained to 0-255 (25[0-5]|2[0-4]\d|1?\d?\d), so
#     "999.999.999.999" no longer reads as an address. Version-ish dotted
#     runs ("1.2.3.4.5" matching its first four fields) would need a
#     trailing lookahead to reject - out of the RE2 subset; documented
#     residual over-match.
_URL_RE = r"https?://[^\s]*[^\s.,;:!?)\]}>\"]"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b(?:25[0-5]|2[0-4]\d|1?\d?\d)(?:\.(?:25[0-5]|2[0-4]\d|1?\d?\d)){3}\b"


@query(
    "pii_scrub_docs",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com via http://example.org/u/'
                        || CAST(doc_id AS VARCHAR)
                        || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.5'
               ELSE text END AS txt
        FROM documents
    ),
    s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(txt, '{_URL_RE}')) AS n_urls,
               regexp_replace(txt, '{_URL_RE}', '<URL>', 'g') AS txt
        FROM aug
    ),
    s2 AS (
        SELECT doc_id, n_urls,
               len(regexp_extract_all(txt, '{_EMAIL_RE}')) AS n_emails,
               regexp_replace(txt, '{_EMAIL_RE}', '<EMAIL>', 'g') AS txt
        FROM s1
    ),
    s3 AS (
        SELECT doc_id, n_urls, n_emails,
               len(regexp_extract_all(txt, '{_IP_RE}')) AS n_ips,
               regexp_replace(txt, '{_IP_RE}', '<IP>', 'g') AS txt
        FROM s2
    )
    SELECT doc_id, n_urls, n_emails, n_ips,
           md5(txt) AS scrubbed_fp, length(txt) AS scrubbed_len
    FROM s3 ORDER BY doc_id
    """,
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via http://example.org/u/"),
            F.col("doc_id").cast("string"),
            F.lit(" from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".5"),
        ),
    ).otherwise(F.col("text"))
    s1 = docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_URL_RE)).alias("n_urls"),
        F.regexp_replace(aug, _URL_RE, "<URL>").alias("txt"),
    )
    s2 = s1.select(
        "doc_id",
        "n_urls",
        F.regexp_count("txt", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_replace("txt", _EMAIL_RE, "<EMAIL>").alias("txt"),
    )
    s3 = s2.select(
        "doc_id",
        "n_urls",
        "n_emails",
        F.regexp_count("txt", F.lit(_IP_RE)).alias("n_ips"),
        F.regexp_replace("txt", _IP_RE, "<IP>").alias("txt"),
    )
    # no output sort: full-table projection, driver hash is order-insensitive
    return s3.select(
        "doc_id",
        "n_urls",
        "n_emails",
        "n_ips",
        F.md5(F.col("txt").cast("binary")).alias("scrubbed_fp"),
        F.length("txt").alias("scrubbed_len"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition gate: per-doc duplicate-trigram fraction and
# top-trigram mass. keep_flag applies the published-style threshold (most
# repeated trigram <= 20% of all trigrams).
@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {oracle_ngrams('t', 3)} AS tg
        FROM (SELECT doc_id, {_OT} AS t FROM documents)
    ),
    e AS (
        SELECT doc_id, len(tg) AS n_trigrams, unnest(tg) AS tg
        FROM t WHERE len(tg) > 0
    ),
    c AS (
        SELECT doc_id, n_trigrams, tg, count(*) AS cnt
        FROM e GROUP BY 1, 2, 3
    )
    SELECT doc_id, n_trigrams,
           count(*) AS n_uniq_trigrams,
           max(cnt) AS top_trigram_count,
           CAST(n_trigrams - count(*) AS DOUBLE) / n_trigrams AS dup_frac,
           CAST(max(cnt) AS DOUBLE) / n_trigrams AS top_frac,
           CASE WHEN CAST(max(cnt) AS DOUBLE) / n_trigrams <= 0.2
                THEN 1 ELSE 0 END AS keep_flag
    FROM c GROUP BY doc_id, n_trigrams ORDER BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    e = (
        docs.select("doc_id", tokens("text").alias("t"))
        .select("doc_id", ngrams("t", 3).alias("tg"))
        .where(F.size("tg") > 0)
        .select(
            "doc_id",
            F.size("tg").alias("n_trigrams"),
            F.explode("tg").alias("tg"),
        )
    )
    c = e.groupBy("doc_id", "n_trigrams", "tg").agg(F.count("*").alias("cnt"))
    top_frac = F.max("cnt").cast("double") / F.col("n_trigrams")
    return (
        c.groupBy("doc_id", "n_trigrams")
        .agg(
            F.count("*").alias("n_uniq_trigrams"),
            F.max("cnt").alias("top_trigram_count"),
            (
                (F.col("n_trigrams") - F.count("*")).cast("double")
                / F.col("n_trigrams")
            ).alias("dup_frac"),
            (F.max("cnt").cast("double") / F.col("n_trigrams")).alias("top_frac"),
            F.when(top_frac <= 0.2, 1).otherwise(0).alias("keep_flag"),
        )
        # no output sort: one row per doc, driver hash is order-insensitive
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus docs sharing any token 5-gram
# with the held-out benchmark split. A real eval suite is a separate
# FIXED dataset whose size is independent of the training corpus (MMLU
# does not grow when the corpus does), so the fixture's stand-in is a
# fixed-COUNT pick: the _BENCH_N smallest doc_ids with doc_id % 50 == 0
# (deterministic; the GlobalLimit bounds the broadcast side by
# construction, which is what licenses the hint - r12 fix of the last
# allowlisted unbounded-broadcast lint finding). At sf<=0.01 the cap
# exceeds the %50 population so results are unchanged; at sf0.1 it
# truncates 100 -> 50, i.e. the bound actually binds at a tested scale.
_BENCH_N = 50


@query(
    "benchmark_decontam_overlap",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, list_distinct({oracle_ngrams('t', 5)}) AS g
        FROM (SELECT doc_id, {_OT} AS t FROM documents)
    ),
    gg AS (
        SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram
        FROM g WHERE len(g) > 0
    ),
    bench_ids AS (
        SELECT doc_id FROM g WHERE len(g) > 0 AND doc_id % 50 = 0
        ORDER BY doc_id LIMIT {_BENCH_N}
    ),
    bench AS (
        SELECT gg.doc_id AS bench_doc, gram
        FROM gg JOIN bench_ids USING (doc_id)
    ),
    corp AS (
        SELECT doc_id, n_grams, gram FROM gg WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id,
           count(DISTINCT c.gram) AS n_shared_ngrams,
           count(DISTINCT b.bench_doc) AS n_bench_docs,
           CAST(count(DISTINCT c.gram) AS DOUBLE) / c.n_grams AS contam_frac
    FROM corp c JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id, c.n_grams ORDER BY c.doc_id
    """,
)
def benchmark_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    # both branches (bench broadcast + corpus probe) consume the gram
    # base; without the persist the tokenize+5-gram pass - the
    # dominant per-doc cost - executes twice (measured 2.1s of 4.6s
    # at sf0.1).
    base = caches.persist(
        docs.select("doc_id", tokens("text").alias("t"))
        .select(
            "doc_id",
            F.array_distinct(ngrams("t", 5)).alias("g"),
        )
        .where(F.size("g") > 0),
    )
    bench = (
        base.where(F.col("doc_id") % 50 == 0)
        .orderBy("doc_id")
        .limit(_BENCH_N)
        .select(F.col("doc_id").alias("bench_doc"), F.explode("g").alias("gram"))
    )
    corp = base.where(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.size("g").alias("n_grams"), F.explode("g").alias("gram")
    )
    return (
        corp.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(
            F.count_distinct("gram").alias("n_shared_ngrams"),
            F.count_distinct("bench_doc").alias("n_bench_docs"),
        )
        .select(
            "doc_id",
            "n_shared_ngrams",
            "n_bench_docs",
            (F.col("n_shared_ngrams").cast("double") / F.col("n_grams")).alias(
                "contam_frac"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-doc salient terms: top-5 by tf x unlogged-BM25 idf, with a total
# order (score DESC, term ASC) so the cut is deterministic.
@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_OT}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df,
               CAST(tf AS DOUBLE)
                   * (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tf, df, score, rnk
    FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drift check (r6): warm sf0.1 = 1.14s (min of 3), matching the r5
    # narrow-scan measurement below - bench deltas are cold-run jitter.
    # narrow scan on purpose: the widen repartition was measured (round 5,
    # sf0.1 warm, min of 3) at 1.49s vs 1.19s narrow - the tokenize stage
    # here is one cheap regex pass, so fanning the 1-split fixture out
    # costs more in shuffle than it buys in map parallelism (unlike the
    # 5-gram builders below, whose per-row work dominates their shuffle)
    docs = load_table(spark, sf_dir, "documents")
    # tf feeds both the df agg and the scored join, so the tokenize+agg
    # executes twice. Two rewrites were measured and rejected (round-4):
    # persist(MEMORY_AND_DISK) on tf costs MORE than the recompute at
    # bench scale (1.46s vs 1.25s — materializing the wide doc_id×term
    # relation dwarfs the cheap tokenize); computing df as
    # count().over(Window.partitionBy("term")) removes the second pass
    # but routes every tf row of a hot term into ONE unsplittable window
    # partition — the groupBy keeps map-side partial agg and the
    # tf⋈df sort-merge join stays AQE-skew-splittable, which the window
    # shape is not. At true corpus scale the right lever is persisting
    # tf ahead of both consumers; at bench scale that trade inverts -
    # r17 realizes exactly that split with the scale-gated persist
    # (no-op at fixture scale, engages once the scan fills the cores).
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tf = caches.persist_when_scaled(tf, docs)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    # no output sort: ~5 rows per doc is full-table scale; already
    # partition-sorted for the window, driver hash is order-insensitive
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 5
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: for every pair of document sources,
# how many distinct 5-gram shingles they share, plus the shingle-set
# Jaccard — the corpus-level generalization of benchmark_decontam_overlap
# above (that query scores docs against ONE benchmark; this audits every
# source against every other, the "is my crawl re-ingesting itself?"
# question asked before training-set mixing).
#
# Scale shape: the only corpus-sized steps are the shingle explode and
# one distinct on (source, gram) — both map-side combinable. The pair
# join is gram-keyed self-equi-join of the DISTINCT relation, so each
# gram fans out to at most S^2 pairs where S = #sources, a catalog-sized
# constant (a pipeline mixes tens of sources, not millions) — at 100 TB
# the join input is |distinct grams x sources|, far below the corpus,
# and nothing is broadcast. Jaccard = shared / (|A| + |B| - shared) is
# one IEEE divide over exact integers.
@query(
    "cross_source_ngram_overlap",
    oracle=f"""
    WITH g0 AS (
        SELECT source, unnest(list_distinct({oracle_ngrams('t', 5)})) AS gram
        FROM (SELECT source, {_OT} AS t FROM documents)
    ),
    g AS (SELECT DISTINCT source, gram FROM g0),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        FROM g GROUP BY source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           pa.n_grams AS grams_a, pb.n_grams AS grams_b,
           CAST(n_shared AS DOUBLE)
               / (pa.n_grams + pb.n_grams - n_shared) AS jaccard
    FROM shared
    JOIN per_src pa ON pa.source = shared.source_a
    JOIN per_src pb ON pb.source = shared.source_b
    """,
)
def cross_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    # the distinct (source, gram) base feeds THREE consumers (both sides
    # of the self-join plus the per-source totals); persisted so the
    # tokenize+shingle pass runs once (measured warm 3.5s -> 2.9s at
    # sf0.1 - the self-join shuffle, not the shingling, dominates).
    g = caches.persist(
        docs.select("source", tokens("text").alias("t"))
        .select(
            "source",
            F.explode(F.array_distinct(ngrams("t", 5))).alias(
                "gram"
            ),
        )
        .distinct(),
    )
    per_src = g.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = g.select(F.col("source").alias("source_a"), "gram")
    b = g.select(F.col("source").alias("source_b"), "gram")
    shared = (
        a.join(b, "gram")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "grams_a",
            "grams_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("grams_a") + F.col("grams_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-pruning operating curve: bucket every document by its quality
# score (the text_quality_stats chain, micro-quantized) into 0.1-wide
# bands and report, per band, the doc/token volume plus the DESCENDING
# cumulative share retained if the cutoff were set at that band - the
# operating curve a curation run reads to pick its quality threshold
# ("keeping q >= 0.6 retains 71% of tokens"). One corpus pass answers
# every candidate cutoff; corpus_curation_stats reports ONE pipeline's
# outcome, this sweeps the whole dial.
#
# Scale notes (100 TB): per-row quality math, ONE bounded-key (11-band)
# shuffle with map-side partials; the cumulative windows run over the
# band table. Nothing joins, nothing broadcasts.
@query(
    "quality_pruning_curve",
    oracle=f"""
    WITH q AS (
        SELECT len(toks) AS n_toks,
               {oracle_quality_micro()} AS q_micro
        FROM (SELECT {_OT} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    b AS (
        SELECT q_micro // 100000 AS band,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens
        FROM q GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                 CAST(sum(n_tokens) AS BIGINT) AS tt FROM b)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(band AS DOUBLE) / 10 AS cutoff,
           n_docs, n_tokens,
           CAST(CAST(sum(n_docs) OVER w AS VARCHAR) AS DOUBLE) / CAST(t.td AS DOUBLE)
               AS doc_share_retained,
           CAST(CAST(sum(n_tokens) OVER w AS VARCHAR) AS DOUBLE) / CAST(t.tt AS DOUBLE)
               AS token_share_retained
    FROM b CROSS JOIN t
    WINDOW w AS (ORDER BY band DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def quality_pruning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.select(tokens("text").alias("t"))
        .where(F.size("t") > 0)
        .select(F.size("t").alias("n_toks"), quality_micro().alias("q_micro"))
    )
    b = (
        q.select(
            F.floor(F.col("q_micro") / 100000).cast("bigint").alias("band"),
            "n_toks",
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    t = b.agg(
        F.sum("n_docs").cast("bigint").alias("td"),
        F.sum("n_tokens").cast("bigint").alias("tt"),
    )
    w = W.orderBy(F.desc("band")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return b.crossJoin(F.broadcast(t)).select(
        "band",
        (F.col("band").cast("double") / 10).alias("cutoff"),
        "n_docs",
        "n_tokens",
        (
            F.sum("n_docs").over(w).cast("double") / F.col("td").cast("double")
        ).alias("doc_share_retained"),
        (
            F.sum("n_tokens").over(w).cast("double")
            / F.col("tt").cast("double")
        ).alias("token_share_retained"),
    )


# ---------------------------------------------------------------------------
# Character-entropy quality gate: per-document Shannon entropy of the
# character distribution, with the low-entropy flag (repetitive /
# degenerate text - the Gopher-rules cousin of doc_repetition_stats,
# which counts repeated n-grams; entropy catches single-char floods and
# keyboard mash that n-gram ratios miss). H = ln(n) - sum(c*ln(c))/n.
#
# Determinism: character counts are exact ints; each c*ln(c) term is
# quantized to picounits BEFORE the per-doc sum (exact integer
# accumulation, order-free - the mlprep ln contract); the final H is
# two IEEE ops on the exact sums.
#
# Scale notes (100 TB): explode to (doc, char) -> one doc+char-keyed
# partial agg -> one doc-keyed rollup; both shuffles on high-entropy
# keys, output is doc-sized. No joins, no broadcast.
_ENT_FLAG_NATS = "2.9"  # flag docs with char entropy below ~2.9 nats


@query(
    "char_entropy_gate",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents WHERE length(text) > 0)
        GROUP BY 1, 2
    ),
    d AS (
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_chars_tot,
               CAST(sum(CAST(floor(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                   * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_pico
        FROM ch GROUP BY 1
    )
    SELECT doc_id, n_chars_tot,
           floor((ln(CAST(n_chars_tot AS DOUBLE))
               - (CAST(s_pico AS DOUBLE) / 1000000000000)
                 / CAST(n_chars_tot AS DOUBLE)) * 1000000000 + 0.5)
               / 1000000000 AS entropy_nats,
           floor((ln(CAST(n_chars_tot AS DOUBLE))
               - (CAST(s_pico AS DOUBLE) / 1000000000000)
                 / CAST(n_chars_tot AS DOUBLE)) * 1000000000 + 0.5)
               / 1000000000 < {_ENT_FLAG_NATS} AS low_entropy_flag
    FROM d
    """,
)
def char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") > 0
    )
    ch = (
        docs.select(
            "doc_id", F.explode(F.split("text", "")).alias("c")
        )
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n"))
    )
    term_pico = F.floor(
        F.col("n").cast("double")
        * F.log(F.col("n").cast("double"))
        * F.lit(1_000_000_000_000)
        + F.lit(0.5)
    ).cast("bigint")
    d = ch.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_chars_tot"),
        F.sum(term_pico.cast("decimal(38,0)")).cast("bigint").alias("s_pico"),
    )
    h_raw = F.log(F.col("n_chars_tot").cast("double")) - (
        F.col("s_pico").cast("double") / F.lit(1_000_000_000_000)
    ) / F.col("n_chars_tot").cast("double")
    # quantize the post-ln chain (ln differs at the last ulp between
    # engines - the established quantize-after-ln contract)
    h = F.floor(h_raw * F.lit(1_000_000_000) + F.lit(0.5)) / F.lit(
        1_000_000_000
    )
    return d.select(
        "doc_id",
        "n_chars_tot",
        h.alias("entropy_nats"),
        (h < F.expr(_ENT_FLAG_NATS)).alias("low_entropy_flag"),
    )


# ---------------------------------------------------------------------------
# Rare-term TF-IDF cosine pairs: document similarity from SPARSE
# lexical vectors via posting-list joins - the inverted-index
# counterpart of the dense embedding cosine family (similarity.py).
# The vector space is restricted to RARE terms: df * 20 <= N (at most
# 5% of docs - rare terms carry the IDF mass) AND df <= 500 absolute.
# The absolute cap is the fixed-df refinement the scale note below
# always promised, promoted to the contract by an r15 measurement: a
# relative-only cut's admission threshold GROWS with N while a term's
# usefulness for similarity does not, so each decade admits hotter
# posting lists - at sf10 the relative-only gate admitted 3,100 terms
# carrying 22.4e9 candidate pairs (vs 10 terms / 311k pairs at sf1: a
# 72,000x pair blowup for a 10x data step, quadratic by construction
# since per-term pairs are C(df,2)). With the absolute cap, candidate
# volume grows linearly with the corpus (the per-copy df distribution
# is scale-invariant under tiling). Values at sf0.01/sf0.1/sf1 are
# UNCHANGED: no fixture term has df in (250, 2500], so min(N/20, 500)
# binds exactly where N/20 did (verified by parity re-runs at all
# three scales). Weights are tf x ln(N/df), micro-quantized; top-20
# pairs by quantized cosine.
#
# Scale notes (100 TB): one (doc, term) tf shuffle; the df cut prunes
# the posting lists BEFORE the self-join, so candidate generation is
# sum over rare terms of C(df, 2) with df capped at min(N/20, 500)
# (posting lists of hot terms are useless for similarity anyway); dot
# products are exact int sums; norms join back doc-keyed; final top-20
# is TakeOrderedAndProject.
_TFC_DF_SHARE = 20  # keep terms with df * 20 <= N (<= 5% of docs)
_TFC_DF_CAP = 500  # ... AND df <= 500 (fixed absolute cap, see above)
_TFC_TOP = 20


@query(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_OT}) AS t FROM documents)
        GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1
    ),
    w AS (
        SELECT tok.doc_id, tok.term,
               CAST(floor(tok.tf * ln(CAST(n.n_docs AS DOUBLE)
                   / CAST(df.df AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                   AS wm
        FROM tok JOIN df USING (term) CROSS JOIN n
        WHERE df.df * {_TFC_DF_SHARE} <= n.n_docs
          AND df.df <= {_TFC_DF_CAP}
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(CAST(sum(CAST(wm AS HUGEINT) * wm) AS VARCHAR) AS DOUBLE)) AS nm
        FROM w GROUP BY 1
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(CAST(a.wm AS HUGEINT) * b.wm) AS HUGEINT) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.doc_a, d.doc_b,
               CAST(floor(CAST(CAST(d.dot AS VARCHAR) AS DOUBLE) / (na.nm * nb.nm)
                   * 1000000000 + 0.5) AS BIGINT) AS cos_nano
        FROM dots d
        JOIN nrm na ON na.doc_id = d.doc_a
        JOIN nrm nb ON nb.doc_id = d.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(cos_nano AS DOUBLE) / 1000000000 AS cosine
    FROM scored
    ORDER BY cos_nano DESC, doc_a, doc_b
    LIMIT {_TFC_TOP}
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import widen_small_scan

    # r16: persist the two multiply-referenced bases. `tok` feeds the
    # n_docs count, the df agg, and the weight build; `w` feeds the norm
    # agg and BOTH sides of the term self-join - without the persists the
    # executed plan re-ran the documents tokenize + tf agg TWELVE times
    # (12 parquet scans in one plan; guide §5). `w` is small by
    # construction (df-capped admitted terms only). The scan is also
    # widened so the single-split fixture tokenize parallelizes.
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    tok = caches.persist(
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
    )
    n = tok.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    df = tok.groupBy("term").agg(F.count("*").alias("df"))
    w = caches.persist(
        tok.join(df, "term")
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("df") * _TFC_DF_SHARE <= F.col("n_docs"))
            & (F.col("df") <= _TFC_DF_CAP)
        )
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("df").cast("double")
                )
                * F.lit(1_000_000)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("wm"),
        ),
    )
    nrm = w.groupBy("doc_id").agg(
        # r12: cast one factor BEFORE the square - wm = tf*idf micro can
        # reach ~3e10 (tf 1e3 x idf 28 x 1e6), whose raw-bigint square
        # wraps; the old cast applied after the wrap.
        F.sqrt(
            F.sum(F.col("wm").cast("decimal(38,0)") * F.col("wm")).cast("double")
        ).alias("nm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            # r12: same cast-one-factor fix as the norm above.
            F.sum(F.col("a.wm").cast("decimal(38,0)") * F.col("b.wm"))
            .alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nm").alias("nb"))
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.col("dot").cast("double")
                / (F.col("na") * F.col("nb"))
                * F.lit(1_000_000_000)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_nano"),
        )
    )
    return (
        scored.orderBy(F.desc("cos_nano"), "doc_a", "doc_b")
        .limit(_TFC_TOP)
        .select(
            "doc_a",
            "doc_b",
            (F.col("cos_nano").cast("double") / F.lit(1_000_000_000)).alias(
                "cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Length-quality confounder check: the Pearson correlation between
# document token length and the quality score - the audit that catches
# a length-biased quality gate BEFORE it silently reshapes the corpus
# (this score's 0.4-weight length term guarantees positive r by
# construction; measuring it quantifies how much of "quality" is just
# "long", which decides whether the gate needs length stratification).
#
# Determinism: both variables are exact micro/count ints; all five
# moments are exact integer sums; r is one IEEE chain floor-quantized
# at micro.
#
# Scale notes (100 TB): per-row math + a 1-row exact-moment reduction.
@query(
    "length_quality_correlation",
    oracle=f"""
    WITH q AS (
        SELECT CAST(len(toks) AS BIGINT) AS x,
               {oracle_quality_micro()} AS y
        FROM (SELECT {_OT} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM q
    )
    SELECT n,
           CAST(floor((CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                      / sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                              * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                                * CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) AS pearson_r_micro
    FROM m
    """,
)
def length_quality_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.select(tokens("text").alias("t"))
        .where(F.size("t") > 0)
        .select(F.size("t").cast("bigint").alias("x"), quality_micro().alias("y"))
    )
    # r12: decimal accumulation + cast-one-factor products (the corpus
    # quality-micro total has <10x int64 headroom at 1e12 docs; the raw
    # products wrapped before their old outer casts).
    xd38 = F.col("x").cast("decimal(38,0)")
    yd38 = F.col("y").cast("decimal(38,0)")
    m = q.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xd38).cast("bigint").alias("sx"),
        F.sum(yd38).cast("bigint").alias("sy"),
        F.sum(xd38 * F.col("y")).alias("sxy"),
        F.sum(xd38 * F.col("x")).alias("sxx"),
        F.sum(yd38 * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sx * sy / nd
    vx = F.col("sxx").cast("double") - sx * sx / nd
    vy = F.col("syy").cast("double") - sy * sy / nd
    return m.select(
        "n",
        F.floor(cov / F.sqrt(vx * vy) * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
        .alias("pearson_r_micro"),
    )
