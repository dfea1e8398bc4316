"""Text-analysis operators on the documents fixture (SURVEY.md §2b).

LLM-data-pipeline text surface: token counting (whitespace + BPE-ish
regex), quality statistics (length / uniqueness / stopword ratios),
stopword-profile language ID, and content fingerprinting (md5 full and
whitespace-normalized). The reference repo has no text ops (its payloads
are ids/names, P:96-155); these generalize its string handling the way a
pretraining-corpus pipeline needs.

Every expression is built-in (codegen'd JVM) - no Python UDFs. All ratio
math is a fixed-association chain of IEEE doubles mirrored exactly in the
DuckDB oracles, so results hash-match bit-for-bit.

Scale notes (100 TB): every query is embarrassingly parallel per-document
map work followed by (at most) one hash aggregation on a low-cardinality
key - no joins, no windows, no driver collection. Token arrays are
produced and consumed inside one projection, so nothing wide shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caches
from ..functions import (
    ORACLE_TOKENS,
    ngrams,
    oracle_ngrams,
    oracle_quality_score,
    oracle_stop_hits,
    quality_score,
    stop_hits,
    tokens,
)
from ..registry import query
from ..tables import load_table

# Profile stopword sets beside functions.STOPWORDS (English); the synthetic
# corpus is English-like tech text for every lang label, so the ID signal
# is degenerate by construction - the query exercises the mechanics
# (set-membership counting + argmax).
_STOP_DE = ("der", "die", "das", "und", "ist", "ein", "zu", "den")
_STOP_ES = ("el", "la", "de", "que", "y", "en", "un", "es")

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


_OT = ORACLE_TOKENS.format(col="text")


# ---------------------------------------------------------------------------
# Per-document quality statistics; quality_score is functions.quality_score
# over the token, stopword-hit and distinct-token counts.
@query(
    "text_quality_stats",
    oracle=f"""
    SELECT doc_id, lang,
           length(text) AS n_chars_m,
           n_tokens, n_uniq,
           CAST(sum_tok_len AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           {oracle_quality_score('n_tokens', 'n_stop', 'n_uniq')}
               AS quality_score
    FROM (
        SELECT doc_id, lang, text,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_uniq,
               list_sum(list_transform(toks, t -> length(t))) AS sum_tok_len,
               {oracle_stop_hits('toks')} AS n_stop
        FROM (SELECT doc_id, lang, text, {_OT} AS toks FROM documents)
    )
    WHERE n_tokens > 0
    ORDER BY doc_id
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token array projected once, then consumed as a bound attribute by
    # the four stat expressions (avoids 4x regex re-tokenization per row)
    t = F.col("t")
    d = (
        docs.select(
            "doc_id", "lang", F.length("text").alias("n_chars_m"),
            tokens("text").alias("t"),
        )
        .select(
            "doc_id",
            "lang",
            "n_chars_m",
            F.size(t).alias("n_tokens"),
            F.size(F.array_distinct(t)).alias("n_uniq"),
            F.aggregate(
                F.transform(t, F.length), F.lit(0), lambda acc, v: acc + v
            ).alias("sum_tok_len"),
            stop_hits("t").alias("n_stop"),
        )
        .where(F.col("n_tokens") > 0)
    )
    return d.select(
        "doc_id",
        "lang",
        "n_chars_m",
        "n_tokens",
        "n_uniq",
        (F.col("sum_tok_len").cast("double") / F.col("n_tokens")).alias(
            "avg_token_len"
        ),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias(
            "stop_ratio"
        ),
        quality_score().alias("quality_score"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Token counting, two tokenizers, aggregated per language: whitespace-run
# word tokens vs BPE-ish pre-tokens (letter runs / digit runs / symbols).
@query(
    "token_counts_by_lang",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len({_OT})) AS BIGINT) AS sum_ws_tokens,
           CAST(sum(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS BIGINT)
               AS sum_bpe_tokens,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def token_counts_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drift check (r6): warm sf0.1 = 0.51s (min of 3), matching the r4
    # driver 0.50s - the r5 0.63s was cold-run jitter, no regression.
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens("text"))).alias("sum_ws_tokens"),
            F.sum(
                F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0))
            ).alias("sum_bpe_tokens"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Stopword-profile language ID: count per-language stopword hits, argmax
# with a fixed tiebreak (en > de > es). On this synthetic corpus the text
# is English-like for every label, so prediction accuracy is meaningless -
# the mechanics (membership counts + deterministic argmax) are the surface.
@query(
    "lang_id_stopword",
    oracle=f"""
    SELECT doc_id, lang, hits_en, hits_de, hits_es,
           CASE WHEN hits_en >= hits_de AND hits_en >= hits_es THEN 'en'
                WHEN hits_de >= hits_es THEN 'de'
                ELSE 'es' END AS pred_lang
    FROM (
        SELECT doc_id, lang,
               {oracle_stop_hits('toks')} AS hits_en,
               {oracle_stop_hits('toks', _STOP_DE)} AS hits_de,
               {oracle_stop_hits('toks', _STOP_ES)} AS hits_es
        FROM (SELECT doc_id, lang, {_OT} AS toks FROM documents)
    )
    ORDER BY doc_id
    """,
)
def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once; the three profile counters consume the bound column
    t = F.col("t")
    d = docs.select("doc_id", "lang", tokens("text").alias("t")).select(
        "doc_id",
        "lang",
        stop_hits("t").alias("hits_en"),
        stop_hits("t", _STOP_DE).alias("hits_de"),
        stop_hits("t", _STOP_ES).alias("hits_es"),
    )
    pred = (
        F.when(
            (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") >= F.col("hits_es")),
            "en",
        )
        .when(F.col("hits_de") >= F.col("hits_es"), "de")
        .otherwise("es")
    )
    return d.withColumn("pred_lang", pred).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Content fingerprinting: md5 of the raw text, md5 of the whitespace-
# normalized token stream (robust to formatting-only edits), and a 60-bit
# integer fingerprint (md5 prefix) for compact join keys.
@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fp_raw,
           md5(array_to_string({_OT}, ' ')) AS fp_norm,
           CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS fp64
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_raw"),
        F.md5(F.array_join(tokens("text"), " ").cast("binary")).alias("fp_norm"),
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fp64"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus bigram vocabulary: top-100 token bigrams by occurrence count with
# document frequency - the vocab-building / n-gram-LM shape. Total order
# (n_occurrences DESC, bigram ASC) makes the cut deterministic.
#
# Scale notes (100 TB): per-doc bigram construction is one projection (the
# token array is bound once, then functions.ngrams' zip_with over shifted
# slices, as for the dedup.py shingles); the count is a partial-agg
# shuffle on the bigram itself (high-entropy key, map-side combine), and
# the top-k rides TakeOrderedAndProject, never a global sort.
@query(
    "token_ngram_vocab",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id, unnest({oracle_ngrams('t', 2)}) AS bigram
        FROM (SELECT doc_id, {_OT} AS t FROM documents)
    )
    SELECT bigram,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM bg GROUP BY 1
    ORDER BY n_occurrences DESC, bigram
    LIMIT 100
    """,
)
def token_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", tokens("text").alias("t"))
        .where(F.size("t") >= 2)
        .select("doc_id", F.explode(ngrams("t", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Inverted-index build (term -> posting list): the IR-pipeline primitive
# behind keyword search and BM25 retrieval - per qualifying term, its
# document frequency and the SORTED doc_id posting list. The df floor
# bounds output to corpus-common terms (a production build shards the
# long tail by term instead - same plan, no floor). Posting arrays are
# sorted so the result is a pure function of the data, not of partition
# order (collect_list alone is nondeterministic; array_sort makes the
# driver hash stable - doc_ids within a term are distinct, so the sort
# is a total order).
#
# Scale notes (100 TB): one explode -> ONE shuffle on the term key with
# map-side partial aggregation; posting lists are bounded per shard by
# the df floor (or by term-sharding at the tail). No driver collection,
# no cross join.
_POSTING_MIN_DF = 20


@query(
    "term_posting_lists",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest({_OT}) AS term FROM documents
        )
    )
    SELECT term,
           count(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings_csv
    FROM tok GROUP BY term
    HAVING count(*) >= {_POSTING_MIN_DF}
    ORDER BY term
    """,
)
def term_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Output contract is a scalar CSV, not array<string>: the driver's
    # pandas canonicalizer cannot sort/hash list cells (r6 fail). Same
    # device as user_event_type_profile's types_csv.
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.array_sort(F.collect_list("doc_id")), ","
            ).alias("postings_csv"),
        )
        .where(F.col("df") >= _POSTING_MIN_DF)
        # no output sort: driver hash is order-insensitive
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate: build the corpus top-K vocabulary (by
# doc frequency) and measure, per language, the average fraction of
# token OCCURRENCES falling outside it - the tokenizer-QA number that
# decides whether a vocab needs retraining for a new data mixture. The
# vocab is a FIXED-COUNT top-K (df desc, term tiebreak), so the
# broadcast is bounded at any corpus size - the same rule as the
# similarity query/centroid picks.
#
# Scale notes (100 TB): explode -> term-keyed df agg (map-side partials)
# -> bounded top-K (TakeOrderedAndProject) -> broadcast membership join
# back onto the exploded stream -> doc-keyed then lang-keyed aggs. The
# corpus shuffles once (doc_id agg); the OOV ratio means ride the
# decimal contract.
_VOCAB_K = 500


@query(
    "vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({_OT}) AS term FROM documents
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    vocab AS (
        SELECT term FROM df ORDER BY df DESC, term LIMIT {_VOCAB_K}
    ),
    per_doc AS (
        SELECT t.doc_id, t.lang,
               count(*) AS n_tok,
               count(v.term) AS n_in
        FROM tok t LEFT JOIN vocab v USING (term)
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang, count(*) AS n_docs,
           CAST(CAST(sum(CAST(floor((1.0 - CAST(n_in AS DOUBLE) / n_tok)
                          * 1000000000.0 + 0.5) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               / (1000000000.0 * count(*)) AS avg_oov_ratio
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("term")
    )
    vocab = (
        tok.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_v"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tok"),
            F.count("in_v").alias("n_in"),
        )
    )
    # integer micro-unit mean (floor(ratio*1e9+0.5), exact integer sums):
    # the decimal-cast contract is tie-unsafe when a ratio lands exactly
    # on a dyadic half-tie (round-6 finding, see curation.label_centroids)
    u9 = F.floor(
        (F.lit(1.0) - F.col("n_in").cast("double") / F.col("n_tok"))
        * F.lit(1_000_000_000.0)
        + F.lit(0.5)
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(u9.cast("decimal(38,0)")).cast("double")
                / (F.lit(1_000_000_000.0) * F.count("*"))
            ).alias("avg_oov_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# BPE pair statistics: the top adjacent character bigrams inside word
# tokens, weighted by occurrence — the count a byte-pair-encoding
# trainer computes every merge round (its argmax IS the next merge).
# Bigrams come from substring enumeration over each word
# (transform(sequence(1, len-1), i -> substr(w, i, 2)) — identical
# byte semantics in both engines on the fixtures' ASCII tokens). The
# corpus collapses to the VOCABULARY first (word -> occurrence count,
# Heaps-law-sized, one map-combinable shuffle), and bigrams explode per
# DISTINCT word weighted by its count — corpus-size-independent bigram
# work, vs. the naive per-occurrence explode that ships
# |corpus tokens| * avg_word_len rows (the oracle keeps the
# per-occurrence form — identical counts by construction). The bigram
# shuffle key domain is the character-pair alphabet (bounded); top-10
# on (count DESC, pair) is a total order. A full BPE trainer is this
# query in a loop with a symbol-table merge between rounds; the
# per-round plan — the scale-relevant part — is exactly this shape.
@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH words AS (SELECT unnest({_OT}) AS w FROM documents),
    pairs AS (
        SELECT unnest(
            CASE WHEN len(w) >= 2 THEN list_transform(
                generate_series(1, len(w) - 1), i -> substr(w, i, 2))
            ELSE [] END) AS pair
        FROM words
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 10
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("w_cnt"))
    )
    bigrams = F.expr(
        "CASE WHEN length(w) >= 2 THEN "
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2)) "
        "ELSE array() END"
    )
    return (
        vocab.select(F.explode(bigrams).alias("pair"), "w_cnt")
        .groupBy("pair")
        .agg(F.sum("w_cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Lexical-complexity profile per document: word count, vowel-group
# "syllable" count, syllables-per-word, and the share of 3+-syllable
# words - the readability-style signals a curation pipeline thresholds
# on (a true Flesch score needs sentence boundaries, which this
# synthetic corpus lacks; the component ratios are the portable part).
# Counts are exact integers from the shared whitespace tokenizer +
# vowel-group regex; the two ratios are single IEEE divisions.
#
# Scale notes (100 TB): pure per-row projection - zero shuffle; the
# regex work is JVM codegen inside the scan stage.
def _register_lexical() -> None:
    @query(
        "lexical_complexity_scores",
        oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   len({_OT}) AS n_words,
                   len(regexp_extract_all(lower(text), '[aeiou]+'))
                       AS n_syllables,
                   len(list_filter({_OT},
                       w -> len(regexp_extract_all(lower(w), '[aeiou]+')) >= 3))
                       AS n_complex
            FROM documents
        )
        SELECT doc_id, lang,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               CAST(n_syllables AS DOUBLE) / n_words AS syllables_per_word,
               CAST(n_complex AS DOUBLE) / n_words AS complex_word_ratio
        FROM t WHERE n_words > 0
        """,
    )
    def lexical_complexity_scores(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        syl = "size(regexp_extract_all(lower({s}), '[aeiou]+', 0))"
        t = docs.select(
            "doc_id",
            "lang",
            F.size(tokens("text")).alias("n_words"),
            F.expr(syl.format(s="text")).alias("n_syllables"),
            F.size(
                F.filter(
                    tokens("text"),
                    lambda w: F.size(
                        F.regexp_extract_all(
                            F.lower(w), F.lit("[aeiou]+"), 0
                        )
                    )
                    >= 3,
                )
            ).alias("n_complex"),
        ).where(F.col("n_words") > 0)
        return t.select(
            "doc_id",
            "lang",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_syllables").cast("bigint").alias("n_syllables"),
            (
                F.col("n_syllables").cast("double") / F.col("n_words")
            ).alias("syllables_per_word"),
            (
                F.col("n_complex").cast("double") / F.col("n_words")
            ).alias("complex_word_ratio"),
        )


_register_lexical()


# ---------------------------------------------------------------------------
# Zipf fit of the corpus token-frequency distribution: OLS slope of
# ln(freq) on ln(rank) over the vocabulary - the classic "is this
# natural-language-shaped?" diagnostic (true text sits near slope -1;
# this synthetic word-soup corpus is much flatter, which is exactly
# what the number is for). Rank ties break by token string; ln values
# quantize to micro-units BEFORE the moment sums (the
# unigram_logprob_filter rule), so the regression moments are exact
# decimal(38,0)/HUGEINT integers and slope/intercept/r2 are one
# mirrored IEEE sequence each (the daily_trend_ols pattern).
#
# Scale notes (100 TB): one token-keyed count shuffle; the ranked
# window and moments run on the VOCABULARY, which grows slowly
# (Heaps' law) - the explicit bound a real deployment would add is a
# min-frequency cutoff before the window.
def _register_zipf() -> None:
    from pyspark.sql.window import Window as W

    @query(
        "zipf_token_slope",
        oracle=f"""
        WITH freq AS (
            SELECT tok, count(*) AS c
            FROM (SELECT unnest({_OT}) AS tok FROM documents)
            GROUP BY tok
        ),
        ranked AS (
            SELECT CAST(floor(ln(CAST(row_number() OVER (
                       ORDER BY c DESC, tok) AS DOUBLE)) * 1000000)
                       AS BIGINT) AS x,
                   CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
                       AS BIGINT) AS y
            FROM freq
        ),
        m AS (
            SELECT count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(sum(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS sxy
            FROM ranked
        )
        SELECT n AS vocab_size,
               round((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
                   / (n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx), 6) AS zipf_slope,
               round((CAST(CAST(sy AS VARCHAR) AS DOUBLE) - ((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
                       / (n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx)) * sx)
                   / n / 1000000, 6) AS intercept_ln,
               round(((n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy)
                      * (n * sxy - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sy))
                   / ((n * sxx - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * sx)
                      * (n * syy - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * sy)), 6) AS r2
        FROM m
        """,
    )
    def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        freq = (
            docs.select(F.explode(tokens("text")).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("c"))
        )
        rn = F.row_number().over(W.orderBy(F.desc("c"), "tok"))
        ranked = freq.select(
            F.floor(F.log(rn.cast("double")) * 1_000_000)
            .cast("bigint")
            .alias("x"),
            F.floor(F.log(F.col("c").cast("double")) * 1_000_000)
            .cast("bigint")
            .alias("y"),
        )
        xd = F.col("x").cast("decimal(38,0)")
        yd = F.col("y").cast("decimal(38,0)")
        m = ranked.agg(
            F.count("*").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(xd * F.col("x")).cast("double").alias("sxx"),
            F.sum(yd * F.col("y")).cast("double").alias("syy"),
            F.sum(xd * F.col("y")).cast("double").alias("sxy"),
        )
        n = F.col("n")
        sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
        slope_num = n * F.col("sxy") - sxd * F.col("sy")
        slope_den = n * F.col("sxx") - sxd * F.col("sx")
        slope = slope_num / slope_den
        return m.select(
            n.alias("vocab_size"),
            F.round(slope, 6).alias("zipf_slope"),
            F.round(
                (syd - slope * F.col("sx")) / n / F.lit(1_000_000), 6
            ).alias("intercept_ln"),
            F.round(
                (slope_num * slope_num)
                / (slope_den * (n * F.col("syy") - syd * F.col("sy"))),
                6,
            ).alias("r2"),
        )


_register_zipf()


# ---------------------------------------------------------------------------
# Distinctive terms per source via log-odds with an informative Dirichlet
# prior (Monroe/Colaresi/Quinn 2008, "Fightin' Words") - the corpus-
# comparison op behind "what vocabulary distinguishes source X from the
# rest": z = delta / sqrt(var) where delta is the prior-smoothed
# log-odds-ratio of the term in the source vs the remaining corpus and
# the prior alpha_i is proportional to the term's global frequency.
# Raw count ratios overweight rare terms and TF-IDF ignores the
# comparison corpus; the Dirichlet z-score fixes both - the standard
# tool for corpus-drift reports and source-bias audits.
#
# Determinism: all counts are exact ints; alpha, delta, var, z are a
# fixed-association chain of IEEE double ops (ln/sqrt on identical
# inputs - the zipf_token_slope trust model) mirrored exactly in the
# oracle; the per-source rank breaks ties by token.
#
# Scale notes (100 TB): one (source, token) shuffle with map-side
# partials, a token-keyed join against the global term counts (both
# sides vocabulary-sized, high-entropy key), per-source totals join
# (bounded - one row per source), and a per-source top-5 window that
# gets the WindowGroupLimit map-side prune. The corpus moves once.
_LO_A0 = "100.0"  # total prior mass (dyadic parse-identical literal)
_LO_TOP = 5


@query(
    "logodds_distinctive_terms",
    oracle=f"""
    WITH tok AS (
        SELECT source, t AS token
        FROM (SELECT source, unnest({_OT}) AS t FROM documents)
    ),
    st AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS y_si
        FROM tok GROUP BY 1, 2
    ),
    gt AS (SELECT token, CAST(sum(y_si) AS BIGINT) AS y_i FROM st GROUP BY 1),
    srct AS (SELECT source, CAST(sum(y_si) AS BIGINT) AS n_s FROM st GROUP BY 1),
    tot AS (SELECT CAST(sum(y_si) AS BIGINT) AS n FROM st),
    z AS (
        SELECT s.source, s.token, s.y_si,
               CAST(s.y_si AS DOUBLE) + {_LO_A0} * CAST(g.y_i AS DOUBLE)
                   / CAST(t.n AS DOUBLE) AS num_s,
               CAST(c.n_s - s.y_si AS DOUBLE) + {_LO_A0}
                   - {_LO_A0} * CAST(g.y_i AS DOUBLE) / CAST(t.n AS DOUBLE)
                   AS den_s,
               CAST(g.y_i - s.y_si AS DOUBLE) + {_LO_A0}
                   * CAST(g.y_i AS DOUBLE) / CAST(t.n AS DOUBLE) AS num_r,
               CAST(t.n - c.n_s - (g.y_i - s.y_si) AS DOUBLE) + {_LO_A0}
                   - {_LO_A0} * CAST(g.y_i AS DOUBLE) / CAST(t.n AS DOUBLE)
                   AS den_r
        FROM st s
        JOIN gt g USING (token)
        JOIN srct c USING (source)
        CROSS JOIN tot t
    ),
    scored AS (
        SELECT source, token, y_si,
               (ln(num_s / den_s) - ln(num_r / den_r))
                   / sqrt(1.0 / num_s + 1.0 / num_r) AS zscore
        FROM z
    )
    SELECT source, token, y_si, round(zscore, 6) AS z_round
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY zscore DESC, token) AS rk
        FROM scored
    ) WHERE rk <= {_LO_TOP}
    """,
)
def logodds_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # Scale-gated persist (r17): `st` has 4 consumers, each re-running
    # the tokenize+explode+groupBy subtree. At fixture scale an
    # unconditional persist LOST (r16 A/B min-of-3 0.85s -> 1.08s: the
    # duplicated branches ride idle cores); at corpus scale 4x
    # re-tokenize is pure added CPU, so the bounded (source x vocab)
    # count grid persists once the scan fills the cores.
    st = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("y_si"))
    )
    st = caches.persist_when_scaled(st, docs)
    gt = st.groupBy("token").agg(F.sum("y_si").alias("y_i"))
    srct = st.groupBy("source").agg(F.sum("y_si").alias("n_s"))
    tot = st.agg(F.sum("y_si").alias("n"))
    a0 = F.expr(_LO_A0)
    j = (
        st.join(gt, "token")
        .join(F.broadcast(srct), "source")
        .crossJoin(F.broadcast(tot))
    )
    alpha = a0 * F.col("y_i").cast("double") / F.col("n").cast("double")
    num_s = F.col("y_si").cast("double") + alpha
    den_s = (F.col("n_s") - F.col("y_si")).cast("double") + a0 - alpha
    num_r = (F.col("y_i") - F.col("y_si")).cast("double") + alpha
    den_r = (
        (F.col("n") - F.col("n_s") - (F.col("y_i") - F.col("y_si"))).cast(
            "double"
        )
        + a0
        - alpha
    )
    zscore = (F.log(num_s / den_s) - F.log(num_r / den_r)) / F.sqrt(
        F.lit(1.0) / num_s + F.lit(1.0) / num_r
    )
    scored = j.select("source", "token", "y_si", zscore.alias("zscore"))
    w = W.partitionBy("source").orderBy(F.desc("zscore"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _LO_TOP)
        .select(
            "source",
            "token",
            F.col("y_si").cast("bigint").alias("y_si"),
            F.round("zscore", 6).alias("z_round"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve: order the corpus by ingestion
# (doc_id), cut it into 10 equal-count buckets, and report per bucket
# the token volume, the NEW types first seen in that bucket, and the
# cumulative vocabulary - the V(n) ~ K·n^beta curve that sizes
# tokenizer vocabularies and predicts how much new data still grows the
# vocab (flat new-type counts = the corpus is saturating; linear =
# far from it). Complements zipf_token_slope (frequency SHAPE) with
# vocabulary GROWTH.
#
# Determinism: bucket identity is exact integer arithmetic on the
# doc_id rank (ntile-free: bucket = floor(10 * (rank-1) / n_docs) works
# because doc_ids are dense-ranked first); first-seen bucket is a
# min() over exact ints.
#
# Scale notes (100 TB): bucket assignment is pure per-row math after a
# 1-row (n_docs, min_id) broadcast - no rank window over the corpus.
# That leans on the fixture contract that doc_ids are dense (0..n-1);
# for sparse ids the banded-ntile boundary device (extras.py) slots in
# with the same downstream plan. Token first-seen is one token-keyed
# min-agg; per-bucket rollups are bounded-key aggs with map-side
# partials; the cumulative window runs over 10 rows.
@query(
    "heaps_law_curve",
    oracle=f"""
    WITH meta AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                         min(doc_id) AS id0 FROM documents),
    tok AS (
        SELECT CAST(floor(10 * (d.doc_id - m.id0)
                   / CAST(m.n_docs AS DOUBLE)) AS BIGINT) AS bucket,
               t AS token
        FROM (SELECT doc_id, unnest({_OT}) AS t FROM documents) d
        CROSS JOIN meta m
    ),
    firsts AS (SELECT token, min(bucket) AS first_bucket FROM tok GROUP BY 1),
    vol AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
            FROM tok GROUP BY 1),
    news AS (SELECT first_bucket AS bucket,
                    CAST(count(*) AS BIGINT) AS n_new_types
             FROM firsts GROUP BY 1)
    SELECT v.bucket, v.n_tokens,
           coalesce(n.n_new_types, 0) AS n_new_types,
           CAST(sum(coalesce(n.n_new_types, 0)) OVER (ORDER BY v.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_vocab
    FROM vol v LEFT JOIN news n ON n.bucket = v.bucket
    """,
)
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    meta = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("id0"),
    )
    # Scale-gated persist (r17): two consumers re-run the full tokenize.
    # At fixture scale an unconditional persist LOST (r16 A/B min-of-3
    # 0.81s -> 0.95s); at corpus scale the second tokenize is pure added
    # CPU, so the stream persists once the scan fills the cores.
    # Scale caveat: this relation is O(total tokens) - MEMORY_AND_DISK
    # spills it to local disk once and reads it back twice, which beats
    # re-running the regex tokenizer but is the largest persist the gate
    # ever engages here; re-measure at a larger sf before relying on it.
    tok = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .crossJoin(F.broadcast(meta))
        .select(
            F.floor(
                10
                * (F.col("doc_id") - F.col("id0"))
                / F.col("n_docs").cast("double")
            )
            .cast("bigint")
            .alias("bucket"),
            "token",
        )
    )
    tok = caches.persist_when_scaled(tok, docs)
    firsts = tok.groupBy("token").agg(F.min("bucket").alias("first_bucket"))
    vol = tok.groupBy("bucket").agg(F.count("*").alias("n_tokens"))
    news = firsts.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count("*").alias("n_new_types")
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        vol.join(news, "bucket", "left")
        .select(
            "bucket",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_new_types", F.lit(0))
            .cast("bigint")
            .alias("n_new_types"),
        )
        .withColumn(
            "cum_vocab", F.sum("n_new_types").over(w).cast("bigint")
        )
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations: adjacent token pairs scored by pointwise
# mutual information ln(p(ab) / (p(a) p(b))) with a minimum pair count -
# the collocation-mining op ("new york", "machine learning") behind
# phrase-aware tokenizers and vocab merges (it is literally the
# word2phrase score). Complements pmi_lang_source (PMI on bounded
# metadata) by running PMI over the open token-pair space, and
# bpe_pair_counts (raw adjacent-pair frequencies) by normalizing for
# unigram frequency - frequency finds "of the", PMI finds collocations.
#
# Determinism: counts are exact ints; PMI is one ln() on an IEEE ratio
# chain mirrored association-for-association; rank ties break by bigram.
#
# Scale notes (100 TB): bigram fan-out is ~1 row per token (linear);
# one (pair)-keyed count shuffle, two token-keyed joins against the
# unigram counts (high-entropy keys, vocabulary-sized relations), and a
# min-count filter BEFORE the joins cuts the pair tail; final top-15 is
# a TakeOrderedAndProject.
_PMI_MIN_COUNT = 20
_PMI_TOP = 15


@query(
    "bigram_pmi_collocations",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_OT} AS t FROM documents),
    uni AS (
        SELECT u AS token, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS u FROM tk) GROUP BY 1
    ),
    n_uni AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT t[i] AS a, t[i + 1] AS b, CAST(count(*) AS BIGINT) AS c_ab
        FROM tk, unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY 1, 2
    ),
    n_bi AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM bi),
    scored AS (
        SELECT concat(bi.a, ' ', bi.b) AS bigram, bi.c_ab,
               ln((CAST(bi.c_ab AS DOUBLE) / CAST(n_bi.nb AS DOUBLE))
                  / ((CAST(ua.c AS DOUBLE) / CAST(n_uni.n AS DOUBLE))
                     * (CAST(ub.c AS DOUBLE) / CAST(n_uni.n AS DOUBLE))))
                   AS pmi
        FROM bi
        JOIN uni ua ON ua.token = bi.a
        JOIN uni ub ON ub.token = bi.b
        CROSS JOIN n_uni CROSS JOIN n_bi
        WHERE bi.c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT bigram, c_ab, round(pmi, 6) AS pmi_round
    FROM scored
    ORDER BY pmi DESC, bigram LIMIT {_PMI_TOP}
    """,
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Scale-gated persists (r17): `tk` has 3 consumers (uni, bi, n_bi)
    # and `uni` 3 (n_uni, ua, ub) - 5 tokenize runs per plan. At fixture
    # scale an unconditional persist of tk LOST (r16 A/B min-of-3
    # 0.83s -> 0.89s); at corpus scale the re-tokenizes are pure added
    # CPU, so the token arrays (O(corpus), disk-backed - the heaps
    # caveat) and the bounded vocab counts persist once the scan fills
    # the cores.
    tk = docs.select(tokens("text").alias("t"))
    tk = caches.persist_when_scaled(tk, docs)
    uni = (
        tk.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    uni = caches.persist_when_scaled(uni, docs)
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
    )
    bi = (
        tk.where(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    n_bi = (
        tk.select(
            F.greatest(F.size("t") - 1, F.lit(0)).cast("bigint").alias("nb")
        )
        .agg(F.sum("nb").cast("bigint").alias("nb"))
    )
    ua = uni.select(F.col("token").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("token").alias("b"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("nb").cast("double"))
        / (
            (F.col("ca").cast("double") / F.col("n").cast("double"))
            * (F.col("cb").cast("double") / F.col("n").cast("double"))
        )
    )
    return (
        bi.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "c_ab",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(_PMI_TOP)
        .select("bigram", "c_ab", F.round("pmi", 6).alias("pmi_round"))
    )


# ---------------------------------------------------------------------------
# BPE merge application (one training step): find the most frequent
# adjacent token pair in the corpus (count DESC, pair ASC - the
# bpe_pair_counts statistic), APPLY it greedily left-to-right in every
# document (merged token a_b), and emit the top-10 adjacent-pair counts
# of the REWRITTEN corpus - i.e. one full iteration of the BPE training
# loop (Sennrich 2016), which is count -> merge -> recount repeated.
# bpe_pair_counts shows the statistic; this op proves the engine can
# run the loop's mutation step distributed.
#
# The greedy rewrite is a sequential left fold over the token array
# (Spark aggregate() with the first token as init / DuckDB list_reduce,
# which folds from the first element - the SAME association): append
# each token, or fuse it into the accumulator's tail when the tail is
# exactly the merge's left side. After a fusion the tail contains '_',
# which no raw alphanumeric token equals, so overlapping triples ("a a a"
# with merge (a,a)) fuse leftmost-first exactly like BPE.
#
# Scale notes (100 TB): the winning pair is a 1-row TakeOrdered
# broadcast; the rewrite is per-row map work; the recount is the same
# one pair-keyed shuffle as bpe_pair_counts. The fold is O(doc chars)
# per doc (string accumulator) - linear, JVM-side, no UDFs.
@query(
    "bpe_apply_top_merge",
    oracle=f"""
    WITH tk AS (SELECT {_OT} AS t FROM documents WHERE len({_OT}) >= 1),
    pairs AS (
        SELECT t[i] AS a, t[i + 1] AS b, count(*) AS c
        FROM tk, unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY 1, 2
    ),
    top1 AS (
        SELECT a, b FROM pairs ORDER BY c DESC, a, b LIMIT 1
    ),
    merged AS (
        SELECT string_split(
            list_reduce(tk.t, (acc, x) ->
                CASE WHEN x = top1.b AND (acc = top1.a
                         OR acc LIKE '%' || ' ' || top1.a)
                     THEN acc || '_' || x
                     ELSE acc || ' ' || x END), ' ') AS t
        FROM tk CROSS JOIN top1
    ),
    re AS (
        SELECT t[i] AS a, t[i + 1] AS b, CAST(count(*) AS BIGINT) AS c
        FROM merged, unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY 1, 2
    )
    SELECT concat(a, ' ', b) AS pair, c
    FROM re ORDER BY c DESC, a, b LIMIT 10
    """,
)
def bpe_apply_top_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(tokens("text").alias("t")).where(
        F.size("t") >= 1
    )
    adj = F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
    )
    pairs = (
        tk.where(F.size("t") >= 2)
        .select(F.explode(adj).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    top1 = pairs.orderBy(F.desc("c"), "a", "b").limit(1).select("a", "b")
    fold = (
        "aggregate(slice(t, 2, size(t) - 1), element_at(t, 1), "
        "(acc, x) -> CASE WHEN x = b AND (acc = a "
        "OR acc LIKE concat('%', ' ', a)) "
        "THEN concat(acc, '_', x) ELSE concat(acc, ' ', x) END)"
    )
    merged = (
        tk.crossJoin(F.broadcast(top1))
        .select(F.split(F.expr(fold), " ").alias("t"))
    )
    re = (
        merged.where(F.size("t") >= 2)
        .select(F.explode(adj).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    return (
        re.orderBy(F.desc("c"), "a", "b")
        .limit(10)
        .select(F.concat_ws(" ", "a", "b").alias("pair"), "c")
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: the (actual lang x predicted lang)
# count grid of the stopword-profile classifier plus per-cell share of
# the actual class - the evaluation artifact lang_id_stopword (the
# classifier itself) ships without. On this synthetic corpus every
# text is English-like so the matrix degenerates to columns of 'en'
# predictions - which is exactly what the artifact is FOR: a confusion
# matrix that collapses to one column is how you DISCOVER a degenerate
# classifier before trusting its labels downstream.
#
# Scale notes (100 TB): per-row classification (bounded set-membership
# counting), ONE bounded-key (langs^2) shuffle with map-side partials.
@query(
    "lang_id_confusion",
    oracle=f"""
    WITH p AS (
        SELECT lang,
               CASE WHEN hits_en >= hits_de AND hits_en >= hits_es THEN 'en'
                    WHEN hits_de >= hits_es THEN 'de'
                    ELSE 'es' END AS pred_lang
        FROM (
            SELECT lang,
                   {oracle_stop_hits('toks')} AS hits_en,
                   {oracle_stop_hits('toks', _STOP_DE)} AS hits_de,
                   {oracle_stop_hits('toks', _STOP_ES)} AS hits_es
            FROM (SELECT lang, {_OT} AS toks FROM documents)
        )
    ),
    g AS (
        SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM p GROUP BY 1, 2
    ),
    t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_class
          FROM g GROUP BY 1)
    SELECT g.lang, g.pred_lang, g.n_docs,
           CAST(g.n_docs AS DOUBLE) / CAST(t.n_class AS DOUBLE)
               AS class_share,
           g.lang = g.pred_lang AS is_correct
    FROM g JOIN t ON t.lang = g.lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("t")
    d = docs.select("lang", tokens("text").alias("t")).select(
        "lang",
        stop_hits("t").alias("hits_en"),
        stop_hits("t", _STOP_DE).alias("hits_de"),
        stop_hits("t", _STOP_ES).alias("hits_es"),
    )
    pred = (
        F.when(
            (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") >= F.col("hits_es")),
            "en",
        )
        .when(F.col("hits_de") >= F.col("hits_es"), "de")
        .otherwise("es")
    )
    g = (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    tt = g.groupBy(F.col("lang").alias("lang_t")).agg(
        F.sum("n_docs").alias("n_class")
    )
    return g.join(
        F.broadcast(tt), g.lang == tt.lang_t
    ).select(
        "lang",
        "pred_lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (
            F.col("n_docs").cast("double") / F.col("n_class").cast("double")
        ).alias("class_share"),
        (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: the share of ALL token occurrences covered
# by the top-K most frequent types, at the standard K checkpoints - the
# tokenizer-sizing curve that pairs with heaps_law_curve (how fast the
# vocab GROWS) and vocab_oov_rate (ONE cutoff's miss rate) by sweeping
# the whole cutoff axis in one pass ("the top 1k types cover 96% of
# tokens" decides the vocab budget).
#
# Determinism: ranks ride (count DESC, token) total order; coverage is
# a cumulative exact-int window; shares are single divisions.
#
# Scale notes (100 TB): one token-keyed count shuffle; the rank/
# cumulative windows run on the VOCABULARY-sized relation (the only
# unbounded one here) with checkpoint filtering before the final
# bounded output. For web-scale vocabularies the banded-ntile boundary
# device (extras.py) replaces the single-axis rank window; at any
# realistic vocab (<= 10^8 types) the window is a per-partition sort
# of a narrow (token, count) relation.
_VCC_KS = (10, 100, 1000, 10000)


@query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH c AS (
        SELECT t AS token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_OT}) AS t FROM documents) GROUP BY 1
    ),
    r AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk,
               sum(n) OVER (ORDER BY n DESC, token
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(n) OVER () AS tot,
               count(*) OVER () AS n_types
        FROM c
    )
    SELECT CAST(rk AS BIGINT) AS k,
           CAST(cum AS BIGINT) AS tokens_covered,
           CAST(CAST(cum AS VARCHAR) AS DOUBLE) / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS coverage_share,
           CAST(n_types AS BIGINT) AS n_types
    FROM r WHERE rk IN {_VCC_KS}
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window as W

    w_ord = W.orderBy(F.desc("n"), "token")
    w_cum = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = c.select(
        F.row_number().over(w_ord).alias("k"),
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("tot"),
        F.count("*").over(w_all).alias("n_types"),
    )
    return r.where(F.col("k").isin(*_VCC_KS)).select(
        F.col("k").cast("bigint").alias("k"),
        F.col("cum").cast("bigint").alias("tokens_covered"),
        (F.col("cum").cast("double") / F.col("tot").cast("double")).alias(
            "coverage_share"
        ),
        F.col("n_types").cast("bigint").alias("n_types"),
    )
