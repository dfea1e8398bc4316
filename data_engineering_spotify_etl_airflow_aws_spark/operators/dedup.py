"""Deduplication operators on the documents fixture (SURVEY.md §2b).

Generalizes the reference's key-dedup (drop_duplicates, P:108/P:130) to the
content-level dedup a pretraining-corpus pipeline needs:

  * exact dedup           - content-hash groupBy (md5), deterministic survivor
  * n-gram Jaccard        - EXACT near-dup pairs, prefix-filtered inverted
                            shingle index (NOT all-pairs; see scale notes)
  * MinHash + LSH banding - approximate near-dup pairs, fully deterministic
                            (md5-derived hashes), then exact-Jaccard verified
  * SimHash               - 32-bit weighted-token fingerprint

Determinism: every hash is derived from md5 hex (identical across engines);
affine MinHash constants are fixed literals, so even the LSH query is
bit-reproducible and oracle-checkable in DuckDB.

Oracle strategy: the Jaccard oracle is brute-force all-pairs - hash equality
against the prefix-filtered Spark plan PROVES the candidate pruning is
lossless. The MinHash oracle mirrors the banding pipeline step for step.

Scale notes (100 TB):
  * exact dedup: one shuffle on a uniform high-entropy key (md5). Safe.
  * Jaccard: candidate generation joins doc PREFIXES (|d| - ceil(tau*|d|) + 1
    lexicographically-least shingles - any pair with J >= tau must collide
    there, pigeonhole over the required overlap) against the full inverted
    index, so the quadratic blowup of frequent shingles is bounded by prefix
    size, not document size. At production scale, order prefixes by global
    shingle frequency (one extra agg + broadcast of the rare-shingle rank
    map) to shrink candidates further; lexicographic order keeps this query
    self-contained.
  * MinHash/LSH: signatures are a narrow per-doc map; candidates come from
    equi-joins on 4 band keys - the classic sub-quadratic path; band joins
    shuffle only (band_idx, band_key, doc_id).
  * SimHash: pure per-row projection; near-dup lookup would bucket on
    rotated fingerprint bytes (not needed for the fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

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

JACCARD_TAU = 0.5  # planted near-dups sit at ~0.98; background noise < 0.03

# Fixed affine MinHash constants (seed 7): h_i(x) = (a_i*x + b_i) mod p.
# a < 2^30 and x < 2^32 keep a*x < 2^62, inside int64 for both engines.
_MH_P = 2147483647
_MH_AB = [
    (347712783, 323946139), (423938500, 103694312), (77777869, 202142728),
    (392655487, 124551738), (976787302, 461060838), (40260663, 184570285),
    (465623511, 898017869), (75006692, 516819858), (97402359, 911648019),
    (63469422, 265862673), (1017316376, 479402028), (677129423, 132847736),
    (619659572, 851864842), (53246120, 474769608), (50017773, 285990742),
    (310965606, 900094241),
]
_N_BANDS, _BAND_ROWS = 4, 4  # 16 = 4 bands x 4 rows

_OT = ORACLE_TOKENS.format(col="text")

# --- shared hash expressions, Spark (SQL-expr) and DuckDB forms.
# 32-bit hash of a string from its md5 hex prefix - identical cross-engine
_SPARK_H32 = "cast(conv(substring(md5(cast({s} as binary)), 1, 8), 16, 10) as bigint)"
_DUCK_H32 = "CAST(('0x' || substring(md5({s}), 1, 8)) AS BIGINT)"


def _spark_shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<string> distinct shingles, n_sh) - shingle base.

    The token array is projected as its OWN column before the shingle
    expression references it. Inlining the split() into the shingle string
    (the round-1 shape) re-evaluated the full regex tokenization for every
    element_at() inside the transform() lambda - O(tokens^2) regex work per
    document, ~15s/branch at sf0.1 vs <1s two-step. Catalyst does not
    collapse non-cheap projections into lambda bodies, so the bound
    attribute is computed once per row.
    """
    # the per-row regex+shingle work dominates; widen the 1-split fixture
    # scan so it parallelizes (no-op on a real many-split corpus)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", tokens("text").alias("t"))
        .select("doc_id", F.array_distinct(ngrams("t", 3)).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


# Shingles are distinct token 3-grams (functions.ngrams). The token
# list is bound once in a subquery: inlined, DuckDB re-ran the regex
# tokenizer for every t[i] of the n-gram lambda (1.60 s -> 0.03 s at
# sf0.01, same rows).
_DUCK_SHINGLE_BASE = f"""
    SELECT doc_id, sh, len(sh) AS n_sh
    FROM (
        SELECT doc_id, list_distinct({oracle_ngrams('t', 3)}) AS sh
        FROM (SELECT doc_id, {_OT} AS t FROM documents)
    )
"""


# ---------------------------------------------------------------------------
# Exact dedup by content hash: md5 groupBy, survivor = min doc_id. One
# shuffle on a uniform key; the whole-row generalization of D1/D2.
@query(
    "dedup_exact_content",
    oracle="""
    SELECT md5(text) AS content_fp,
           min(doc_id) AS survivor_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY survivor_doc_id
    """,
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_fp"))
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count("*").alias("n_copies"),
        )
        # no output sort: full-table fan-out, driver hash is
        # order-insensitive; a global sort here is the plan's single
        # largest exchange at scale and buys nothing (oracle keeps its
        # ORDER BY - harmless on the DuckDB side)
    )


def _shingle_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted non-empty shingle relation both near-dup pipelines
    (and their recall eval, which runs them against ONE shared base)
    start from."""
    return caches.persist(
        _spark_shingle_df(spark, sf_dir).where(F.col("n_sh") > 0),
        StorageLevel.MEMORY_AND_DISK,
    )


# --- the exact verify of a candidate pair: its shared-shingle count and
# Jaccard ratio, one text per engine
_COMMON = "size(array_intersect(sh_a, sh_b))"


def _with_shingles(cand: DataFrame, sh: DataFrame, a: str, b: str) -> DataFrame:
    """cand's (a, b) doc pairs joined to each doc's shingle set and size:
    sh_a, n_a, sh_b, n_b."""

    def side(doc: str, k: str) -> DataFrame:
        return sh.select(
            F.col("doc_id").alias(doc),
            F.col("sh").alias(f"sh_{k}"),
            F.col("n_sh").alias(f"n_{k}"),
        )

    return cand.join(side(a, "a"), a).join(side(b, "b"), b)


def _jaccard_verified(
    cand: DataFrame, sh: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """(a, b, n_common, jaccard) for the pairs of cand whose exact
    Jaccard reaches JACCARD_TAU."""
    return (
        _with_shingles(cand, sh, a, b)
        .selectExpr(
            a,
            b,
            f"{_COMMON} AS n_common",
            f"CAST({_COMMON} AS DOUBLE) / (n_a + n_b - {_COMMON}) AS jaccard",
        )
        .where(F.col("jaccard") >= JACCARD_TAU)
    )


# DuckDB twin over the shingle rows a and b
_DUCK_COMMON = "len(list_intersect(a.sh, b.sh))"
_DUCK_JACCARD = (
    f"CAST({_DUCK_COMMON} AS DOUBLE) / (a.n_sh + b.n_sh - {_DUCK_COMMON})"
)


# ---------------------------------------------------------------------------
# EXACT n-gram Jaccard near-dup pairs. Spark plan: prefix-filtered inverted
# index (candidates from the frequency-ordered prefix self-join with
# PPJoin size + positional pruning), then exact verify via
# array_intersect. Oracle: brute-force all-pairs - equal hashes prove the
# pruning lost nothing.
@query(
    "ngram_jaccard_near_dup",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLE_BASE})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_DUCK_COMMON} AS n_common, {_DUCK_JACCARD} AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE a.n_sh > 0 AND b.n_sh > 0 AND {_DUCK_JACCARD} >= {JACCARD_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs(_shingle_base(spark, sf_dir))


def _ngram_pairs(sh: DataFrame) -> DataFrame:
    # Both reused relations are persisted: the executed plan otherwise
    # rescans + re-shingles documents SIX times (prefix window twice, the
    # freq branch, and the two verify sides) with zero exchange reuse.
    # Measured at sf0.1: no persist 10.6s, persist sh 4.6s, persist sh +
    # prefix 3.9s. (A round-1 note claimed caching slowed this query; that
    # predates the zip_with shingle fix that made recompute cheap enough
    # to expose the 6x re-read instead.)
    #
    # Prefix filtering (AllPairs/PPJoin): order every doc's shingles by ONE
    # global total order and keep the first |d| - ceil(tau*|d|) + 1. For any
    # pair with J >= tau, the globally-smallest SHARED shingle c must sit in
    # BOTH prefixes: all of a's shingles ordered before c are non-shared, of
    # which a has at most |a| - o <= |a| - ceil(tau*|a|), so c's position in
    # a is within the prefix (symmetrically for b). Hence prefix x prefix
    # self-join finds every qualifying pair; the all-pairs oracle hash-match
    # proves the pruning lossless. The global order is (doc-frequency,
    # shingle): rarest first, so prefix join buckets are the SMALLEST ones -
    # the frequency agg is one extra shuffle that removes the quadratic
    # blowup of hot shingles (at sf0.1: 653k candidates lexicographic ->
    # ~20k frequency-ordered).
    # the exploded (doc, shingle) stream feeds both the df agg and the
    # prefix join; persist so the explode runs once (r16; guide §5)
    full = caches.persist(
        sh.select("doc_id", "n_sh", F.explode("sh").alias("shingle")),
        StorageLevel.MEMORY_AND_DISK,
    )
    freq = full.groupBy("shingle").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(JACCARD_TAU) * F.col("n_sh")) + 1
    ).cast("int")
    prefix = caches.persist(
        full.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "n_sh", "rn", "shingle"),
        StorageLevel.MEMORY_AND_DISK,
    )
    # PPJoin pruning on the prefix-collision rows, both lossless for
    # J >= tau (the all-pairs oracle hash-match PROVES it):
    #   size filter      - tau*|a| <= |b| and tau*|b| <= |a|;
    #   positional filter- overlap o <= min(|a|-pa, |b|-pb) + 1 at the
    #     FIRST token matched in both prefixes (all common tokens rank at
    #     or after it - an earlier common token would sit inside both
    #     prefixes and be an earlier match), so any surviving match must
    #     allow o >= ceil(tau/(1+tau) * (|a|+|b|)).
    # Measured at sf0.1: 409k raw prefix-collision pairs -> 125k after
    # both filters (verify-join work drops proportionally).
    size_ok = (
        F.col("f.n_sh") >= F.ceil(F.lit(JACCARD_TAU) * F.col("p.n_sh"))
    ) & (F.col("p.n_sh") >= F.ceil(F.lit(JACCARD_TAU) * F.col("f.n_sh")))
    min_overlap = F.ceil(
        F.lit(JACCARD_TAU / (1.0 + JACCARD_TAU))
        * (F.col("p.n_sh") + F.col("f.n_sh"))
    )
    pos_ok = (
        F.least(
            F.col("p.n_sh") - F.col("p.rn"), F.col("f.n_sh") - F.col("f.rn")
        )
        + 1
    ) >= min_overlap
    cand = (
        prefix.alias("p")
        .join(prefix.alias("f"), "shingle")
        .where(
            (F.col("p.doc_id") < F.col("f.doc_id")) & size_ok & pos_ok
        )
        .select(
            F.col("p.doc_id").alias("doc_a"),
            F.col("f.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _jaccard_verified(cand, sh).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash + LSH banding, deterministic end to end: shingle -> 32-bit md5
# hash -> 16 affine permutation minima -> 4 band keys -> band equi-join for
# candidates -> exact-Jaccard verification. The oracle replicates every
# step, so even this "approximate" operator is hash-checked.
def _minhash_signature(sh: DataFrame) -> DataFrame:
    """(doc_id, sh, n_sh, mh0..mh15). The 32-bit shingle-hash array is
    projected ONCE as its own column; the 16 permutation minima then fold
    over that bound attribute. Inlining the hash expression into each mh_i
    (the round-1 shape) made every permutation re-md5 every shingle - 16x
    the hash work. The minima are SQL text, not F.transform lambdas: the
    Python-lambda form costs ~1,400 py4j round trips to build (~260 ms),
    the text form ~30 (~70 ms), for the same literal types and plan."""
    hs = F.expr("transform(sh, s -> " + _SPARK_H32.format(s="s") + ")")
    minima = [
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {_MH_P})) AS mh{i}"
        for i, (a, b) in enumerate(_MH_AB)
    ]
    return sh.withColumn("hs", hs).selectExpr("doc_id", "sh", "n_sh", *minima)


def _duck_minhash_cols() -> str:
    hs = f"list_transform(sh, s -> {_DUCK_H32.format(s='s')})"
    return ", ".join(
        f"list_min(list_transform({hs}, h -> ({a} * h + {b}) % {_MH_P})) AS mh{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )


def _band_key_exprs(col: str = "mh") -> list[str]:
    keys = []
    for band in range(_N_BANDS):
        cols = [f"{col}{band * _BAND_ROWS + r}" for r in range(_BAND_ROWS)]
        keys.append("concat_ws('-', " + ", ".join(cols) + ")")
    return keys


@query(
    "minhash_lsh_near_dup",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLE_BASE}),
    sig AS (
        SELECT doc_id, sh, n_sh, {_duck_minhash_cols()}
        FROM sh WHERE n_sh > 0
    ),
    bands AS (
        SELECT doc_id,
               unnest(generate_series(0, {_N_BANDS - 1})) AS band_idx,
               unnest([{", ".join(_band_key_exprs())}]) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, {_DUCK_COMMON} AS n_common, {_DUCK_JACCARD} AS jaccard
    FROM cand
    JOIN sig a ON a.doc_id = doc_a
    JOIN sig b ON b.doc_id = doc_b
    WHERE {_DUCK_JACCARD} >= {JACCARD_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(_shingle_base(spark, sf_dir))


def _minhash_pairs(sh: DataFrame) -> DataFrame:
    sig = _minhash_signature(sh)
    band_keys = [F.expr(e) for e in _band_key_exprs()]
    # both sides of the band self-join read `bands`; persist so the
    # signature computation (16 affine minima over every doc's hashed
    # shingle set - the pipeline's dominant map work) runs once, not
    # twice (r16; guide §5). 4 small rows per doc.
    bands = caches.persist(
        sig.select(
            "doc_id",
            F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _jaccard_verified(cand, sh).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# SimHash: 32-bit weighted fingerprint. Each distinct token contributes its
# count with sign +-1 per bit of its 32-bit hash; fingerprint bit b is set
# iff the signed sum is positive. One narrow agg per doc - near-dup lookup
# at scale buckets fingerprints on rotated byte slices (Hamming-ball probe).
_SIMHASH_BITS = 32

# the bit sums and their assembly are one text both engines parse alike
# (Spark SQL has >> too)
_BIT_SUMS = [
    f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN cnt ELSE -cnt END) AS s{b}"
    for b in range(_SIMHASH_BITS)
]
_ASSEMBLE = "CAST({} AS BIGINT)".format(
    " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
)
_DUCK_SIMHASH = f"""tok AS (
        SELECT doc_id, t AS token, count(*) AS cnt
        FROM (SELECT doc_id, unnest({_OT}) AS t FROM documents) GROUP BY 1, 2
    ),
    hashed AS (
        SELECT doc_id, cnt, {_DUCK_H32.format(s='token')} AS h FROM tok
    ),
    bitsums AS (
        SELECT doc_id, {", ".join(_BIT_SUMS)} FROM hashed GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {_ASSEMBLE} AS f FROM bitsums)"""


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, f): every document's 32-bit SimHash fingerprint."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .selectExpr("doc_id", "cnt", f"{_SPARK_H32.format(s='token')} AS h")
        .groupBy("doc_id")
        .agg(*[F.expr(e) for e in _BIT_SUMS])
        .selectExpr("doc_id", f"{_ASSEMBLE} AS f")
    )


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH {_DUCK_SIMHASH}
    SELECT doc_id, f AS simhash32 FROM fp ORDER BY doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no output sort: one row per doc (full-table scale), driver hash is
    # order-insensitive
    return _simhash(spark, sf_dir).withColumnRenamed("f", "simhash32")


# ---------------------------------------------------------------------------
# Entity resolution by DELETION-NEIGHBORHOOD blocking: two equal-length
# names are within edit distance 1 (= at most one substitution) iff
# deleting some position i makes them identical, so each name fans out
# into its L single-deletion variants and candidates come from an
# equi-join on (nation, i, variant) - the record-linkage analog of the
# shingle prefix filter above, provably LOSSLESS for the dist<=1
# predicate (the all-pairs oracle hash-match proves it, same strategy as
# the Jaccard query). A naive (nation, length) block key degenerates on
# fixed-format names (every name same length -> whole-nation quadratic
# blocks, measured 58s at sf0.1); the deletion join is linear fan-out
# (L variants/row) into tiny high-entropy buckets, 0.9s on the same
# data. Both engines implement classic unit-cost edit distance, so
# edit_dist is exact and hash-checkable.
@query(
    "fuzzy_name_matches",
    oracle="""
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND length(a.c_name) = length(b.c_name)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY custkey_a, custkey_b
    """,
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    variants = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.explode(
            F.expr(
                "transform(sequence(1, length(c_name)), i -> "
                "named_struct('pos', i, 'v', "
                "concat(substring(c_name, 1, i - 1), "
                "substring(c_name, i + 1, length(c_name)))))"
            )
        ).alias("dv"),
    ).select(
        "c_custkey", "c_name", "c_nationkey",
        F.col("dv.pos").alias("pos"), F.col("dv.v").alias("v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.v") == F.col("b.v"))
            # mirrors the oracle's length-equality predicate. Implied for
            # non-degenerate variants, but an EMPTY name's sequence(1, 0)
            # yields [1, 0] (Spark infers step -1) whose zero-length
            # variants would otherwise match every 1-char name across
            # lengths - latent on TPC-H names, divergent on dirty
            # corpora (r9 review)
            & (
                F.length(F.col("a.c_name")) == F.length(F.col("b.c_name"))
            )
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        # equal variants at the same position => names identical outside
        # pos => dist <= 1 already; distinct collapses the L-fold match
        # multiplicity of identical-name pairs
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
    )
    return pairs.select(
        "custkey_a",
        "custkey_b",
        F.levenshtein("name_a", "name_b").alias("edit_dist"),
    )  # no output sort: driver hash is order-insensitive (r5 rule)


# ---------------------------------------------------------------------------
# Rolling-window dedup with re-arm: suppress repeats of a (user, event
# type) signal, but let it fire again once the signal has been QUIET for
# a full re-arm gap - the alerting/notification dedup semantic (send at
# most one alert per quiet period, not one per lifetime). Episodes are
# gap-based sessions: a new episode starts when the gap from the
# PREVIOUS OCCURRENCE exceeds the re-arm window; the episode's first
# event is kept, the rest are suppressed. One window spec (partition by
# the dedup key, order by ts) serves lag + the running episode counter,
# so the whole operator is a single shuffle on the dedup key - at 100 TB
# the state per key is one row of lag context, never a buffer, and the
# same shuffle feeds the final per-key rollup with no extra exchange.
_REARM_DAYS = 3


@query(
    "dedup_rolling_window",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL {_REARM_DAYS} DAY
                    THEN 1 ELSE 0 END AS is_first
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT user_id, event_type,
           count(*) AS n_events,
           CAST(sum(is_first) AS BIGINT) AS n_kept,
           count(*) - CAST(sum(is_first) AS BIGINT) AS n_suppressed
    FROM seq
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def dedup_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact microsecond gap arithmetic: the oracle compares full-
    # precision timestamp intervals, so a whole-second cast here would
    # diverge for gaps within 1s of the 72h boundary (review finding,
    # this round - fixtures carry microseconds on every ts)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    gap_new = (
        F.lag("ts_us").over(w).isNull()
        | (
            F.col("ts_us") - F.lag("ts_us").over(w)
            > _REARM_DAYS * 86400 * 1_000_000
        )
    )
    return (
        ev.withColumn("is_first", gap_new.cast("int"))
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_first").alias("n_kept"),
            (F.count("*") - F.sum("is_first")).alias("n_suppressed"),
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# Near-dup index recall eval: does MinHash-LSH banding surface every
# pair the exact prefix-filtered Jaccard join finds? Completes the eval
# family (ann_recall_eval grades the IVF index, pq_adc_recall_eval the
# quantizer, this grades the LSH banding): both pipelines verify
# candidates against exact Jaccard >= tau, so LSH output is a SUBSET of
# the exact pair set and candidate precision is 1.0 by construction -
# the number that can degrade is banding RECALL (a pair whose signature
# agrees in no band is never seen), i.e. the false-negative rate of the
# (bands, rows) choice. One row: exact pairs, LSH hits, recall.
#
# Scale notes (100 TB): the eval runs both registered pipelines (their
# scale stories hold unchanged) and joins two bounded PAIR relations -
# the comparison costs nothing next to the searches; run it on a
# sampled slice to tune banding before an index build, exactly like
# ann_recall_eval.
@query(
    "near_dup_recall_eval",
    oracle=None,  # assigned below from the two composed oracle texts
)
def near_dup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE shared shingle base: building the two registered queries
    # through QUERIES would release the first one's base before this
    # plan runs
    sh = _shingle_base(spark, sf_dir)
    exact = _ngram_pairs(sh).select(
        F.col("doc_a").alias("e_a"), F.col("doc_b").alias("e_b")
    )
    lsh = _minhash_pairs(sh).select(
        F.col("doc_a").alias("l_a"), F.col("doc_b").alias("l_b")
    )
    j = exact.join(
        lsh, (F.col("e_a") == F.col("l_a")) & (F.col("e_b") == F.col("l_b")),
        "left",
    )
    return j.agg(
        F.count("e_a").alias("n_exact_pairs"),
        F.count("l_a").alias("n_lsh_pairs"),
        (F.count("l_a").cast("double") / F.count("e_a").cast("double")).alias(
            "banding_recall"
        ),
    )


from ..registry import ORACLES as _DD_OR  # noqa: E402

_DD_OR["near_dup_recall_eval"] = f"""
WITH exact AS ({_DD_OR["ngram_jaccard_near_dup"]}),
     lsh AS ({_DD_OR["minhash_lsh_near_dup"]})
SELECT CAST(count(e.doc_a) AS BIGINT) AS n_exact_pairs,
       CAST(count(l.doc_a) AS BIGINT) AS n_lsh_pairs,
       CAST(count(l.doc_a) AS DOUBLE) / CAST(count(e.doc_a) AS DOUBLE)
           AS banding_recall
FROM exact e
LEFT JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
"""


# ---------------------------------------------------------------------------
# Incremental dedup: check an arriving DELTA batch against the existing
# BASE corpus - the production ingest shape (near_dup pipelines above
# dedup a corpus against ITSELF; a daily pipeline instead asks "which of
# today's documents already exist?"). The delta is a deterministic
# ~10% hash split standing in for the day's arrivals; candidates come
# from the same MinHash band keys, but the band join is ASYMMETRIC
# (delta bands against base bands only), so the work is O(delta)
# collisions, never the corpus self-join - the reason LSH indexes
# amortize: band keys for the base are computed once at index time and
# only probed here. Survivors verify by exact Jaccard >= tau.
#
# Scale notes (100 TB base + daily delta): both sides shuffle on the
# (band, key) pair; the delta side is days smaller, but it GROWS with
# the corpus rate, so no broadcast hint is pinned (Catalyst promotes
# small-enough deltas at runtime). Verification joins fetch shingle
# arrays for matched candidates only.
_INC_SPLIT_MOD = 10  # ~1/10 of docs play the arriving delta
_INC_H_SPARK = _SPARK_H32.format(s="concat('split-', cast(doc_id as string))")
_INC_H_DUCK = _DUCK_H32.format(s="concat('split-', CAST(doc_id AS VARCHAR))")


@query(
    "incremental_lsh_dedup",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLE_BASE}),
    sig AS (
        SELECT doc_id, sh, n_sh, ({_INC_H_DUCK}) % {_INC_SPLIT_MOD} = 0
                   AS is_delta,
               {_duck_minhash_cols()}
        FROM sh WHERE n_sh > 0
    ),
    bands AS (
        SELECT doc_id, is_delta,
               unnest(generate_series(0, {_N_BANDS - 1})) AS band_idx,
               unnest([{", ".join(_band_key_exprs())}]) AS band_key
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT d.doc_id AS delta_doc, b.doc_id AS base_doc
        FROM bands d
        JOIN bands b ON d.band_idx = b.band_idx
                    AND d.band_key = b.band_key
        WHERE d.is_delta AND NOT b.is_delta
    )
    SELECT delta_doc, base_doc, {_DUCK_COMMON} AS n_common,
           {_DUCK_JACCARD} AS jaccard
    FROM cand
    JOIN sig a ON a.doc_id = delta_doc
    JOIN sig b ON b.doc_id = base_doc
    WHERE {_DUCK_JACCARD} >= {JACCARD_TAU}
    """,
)
def incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_base(spark, sf_dir)
    sig = _minhash_signature(sh).withColumn(
        "is_delta", F.expr(_INC_H_SPARK) % _INC_SPLIT_MOD == F.lit(0)
    )
    band_keys = [F.expr(e) for e in _band_key_exprs()]
    # both sides of the delta-vs-base band join read `bands`; persist so
    # the signature computation runs once (r16; guide §5 - same fix as
    # _minhash_pairs)
    bands = caches.persist(
        sig.select(
            "doc_id",
            "is_delta",
            F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    cand = (
        bands.where("is_delta")
        .select(
            F.col("doc_id").alias("delta_doc"), "band_idx", "band_key"
        )
        .join(
            bands.where("NOT is_delta").select(
                F.col("doc_id").alias("base_doc"), "band_idx", "band_key"
            ),
            ["band_idx", "band_key"],
        )
        .select("delta_doc", "base_doc")
        .distinct()
    )
    return _jaccard_verified(cand, sh, "delta_doc", "base_doc")


# ---------------------------------------------------------------------------
# Asymmetric CONTAINMENT near-dup: flag pairs where one document's
# shingle set is mostly INSIDE the other's (|A n B| / |A| >= tau) - the
# quote / excerpt / boilerplate-inclusion detector that symmetric Jaccard
# misses by construction (a 50-shingle quote inside a 5000-shingle page
# has Jaccard ~0.01 but containment ~1.0). Emits both directions per
# pair plus the shared-shingle count.
#
# Candidate generation is the asymmetric AllPairs variant: every doc
# keeps a frequency-ordered PREFIX (|d| - ceil(tau*|d|) + 1 rarest
# shingles) as its PROBE side, joined against the FULL inverted index -
# for containment the indexed side cannot be prefix-pruned (the
# containee's matching shingles may sit anywhere in the container), so
# asymmetric probe-vs-full is the tightest lossless filter; the
# brute-force all-pairs oracle hash-match PROVES nothing is lost. The
# size filter keeps only containers big enough to absorb ceil(tau*|A|)
# shared shingles.
#
# Scale notes (100 TB): prefix and index shuffle on the high-entropy
# shingle key; rarest-first ordering keeps probe buckets tiny (same
# machinery as ngram_jaccard_near_dup, measured there); the verify join
# moves each doc's shingle array once. tau=0.5: fixture's planted
# overlaps sit >=0.8, background <0.3 (measured sf0.01), so the
# threshold has margin on both sides.
_CONT_TAU = 0.5


@query(
    "containment_near_dup",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLE_BASE})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_DUCK_COMMON} AS n_common,
           CAST({_DUCK_COMMON} AS DOUBLE) / a.n_sh AS cont_a_in_b,
           CAST({_DUCK_COMMON} AS DOUBLE) / b.n_sh AS cont_b_in_a
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE a.n_sh > 0 AND b.n_sh > 0
      AND greatest(CAST({_DUCK_COMMON} AS DOUBLE) / a.n_sh,
                   CAST({_DUCK_COMMON} AS DOUBLE) / b.n_sh) >= {_CONT_TAU}
    """,
)
def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_base(spark, sf_dir)
    # the exploded (doc, shingle) stream has THREE consumers (the df agg,
    # the prefix build, and the full-index probe side of the candidate
    # join); persist so the explode runs once (r16; guide §5)
    full = caches.persist(
        sh.select("doc_id", "n_sh", F.explode("sh").alias("shingle")),
        StorageLevel.MEMORY_AND_DISK,
    )
    freq = full.groupBy("shingle").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(_CONT_TAU) * F.col("n_sh")) + 1
    ).cast("int")
    prefix = (
        full.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "n_sh", "shingle")
    )
    cand = (
        prefix.alias("p")
        .join(full.alias("f"), "shingle")
        .where(
            (F.col("p.doc_id") != F.col("f.doc_id"))
            & (
                F.col("f.n_sh")
                >= F.ceil(F.lit(_CONT_TAU) * F.col("p.n_sh"))
            )
        )
        .select(
            F.least("p.doc_id", "f.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "f.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return (
        _with_shingles(cand, sh, "doc_a", "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"{_COMMON} AS n_common",
            f"CAST({_COMMON} AS DOUBLE) / n_a AS cont_a_in_b",
            f"CAST({_COMMON} AS DOUBLE) / n_b AS cont_b_in_a",
        )
        .where(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= F.lit(_CONT_TAU)
        )
        # no output sort: driver hash is order-insensitive (r5 rule)
    )


# ---------------------------------------------------------------------------
# SimHash near-dup PAIRS: close the loop on simhash_fingerprints (which
# emits per-doc fingerprints) by finding document pairs within Hamming
# distance 2 - byte-band blocking on the 32-bit fingerprint, then an
# exact XOR-popcount verify. The 4x8-bit banding is lossless for d <= 3
# by pigeonhole (3 flipped bits touch at most 3 bands, so one band
# matches exactly), which covers the d <= 2 emit threshold with margin;
# the all-pairs oracle hash-match PROVES no pair is lost.
#
# 32-bit simhash trades precision for the cross-engine exactness the
# fingerprint op established; the fixture's shared word-soup vocabulary
# puts the random-pair noise floor near d ~ 4-5 (measured: 174 pairs at
# d <= 2 vs 125k total), so tau = 2 reads "same dominant vocabulary" -
# a 64-bit production simhash separates further, same plan shape.
#
# Scale notes (100 TB): fingerprints are one (doc, token) shuffle; the
# band equi-join shuffles 4 small (band_id, byte) keys per doc and the
# verify is an integer XOR per candidate - no shingle arrays move at
# all (cheaper than the MinHash verify join).
_SH_TAU = 2


@query(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_DUCK_SIMHASH}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= {_SH_TAU}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = caches.persist(_simhash(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    bands = fp.select(
        "doc_id",
        "f",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright("f", 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("byte"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "f", "bk.band_id", "bk.byte")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.f").alias("fa"),
            F.col("b.f").alias("fb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.where(ham <= _SH_TAU)
        .select(
            "doc_a", "doc_b", ham.cast("bigint").alias("hamming")
        )
    )


# ---------------------------------------------------------------------------
# Duplicated n-gram span share: for every document, the fraction of its
# 8-gram positions whose 8-gram also occurs in at least one OTHER
# document - the per-doc "how much of me is corpus-duplicated text"
# exposure metric behind exact-substring dedup (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): docs
# with a high share get their duplicated spans cut (or are dropped)
# before LM training. Complements doc_repetition_stats (INTRA-doc
# repetition) and the near-dup families (whole-doc similarity) with the
# span-level CROSS-doc signal none of them expose.
#
# Grams travel as 16-hex-char md5 prefixes (64 bits - collision odds
# ~1e-11 at a billion distinct grams), computed identically in both
# engines, so the shuffle moves 16-byte keys instead of 8-word strings.
#
# Scale notes (100 TB): gram fan-out is ~1 row per token (linear);
# the plan is two gram-keyed shuffles (per-(doc,gram) counts, then the
# docs-per-gram agg whose join back REUSES the gram partitioning) and
# one doc-keyed rollup - no broadcast, no arrays through the shuffle.
# The share division is a single IEEE double op on exact counts.
_DUPSPAN_N = 8


@query(
    "dup_ngram_span_share",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_OT} AS tk FROM documents
    ),
    g AS (
        SELECT doc_id,
               substring(md5(array_to_string(
                   list_slice(tk, i, i + {_DUPSPAN_N - 1}), ' ')), 1, 16)
                   AS gk
        FROM toks, unnest(generate_series(1, len(tk) - {_DUPSPAN_N - 1}))
                   AS t(i)
        WHERE len(tk) >= {_DUPSPAN_N}
    ),
    dg AS (
        SELECT doc_id, gk, CAST(count(*) AS BIGINT) AS c
        FROM g GROUP BY 1, 2
    ),
    gd AS (SELECT gk, CAST(count(*) AS BIGINT) AS n_docs FROM dg GROUP BY 1),
    per AS (
        SELECT dg.doc_id,
               CAST(sum(dg.c) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN gd.n_docs >= 2 THEN dg.c ELSE 0 END)
                   AS BIGINT) AS n_dup_grams
        FROM dg JOIN gd USING (gk) GROUP BY 1
    )
    SELECT doc_id, n_grams, n_dup_grams,
           CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
               AS dup_share
    FROM per
    """,
)
def dup_ngram_span_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import widen_small_scan

    # r16: widen the fixture's single-split scan - the tokenize + per-gram
    # md5 explode (this query's dominant map work) otherwise runs on one
    # core (no-op on a real many-split corpus); and persist the per-doc
    # gram counts, which feed BOTH the gram-frequency agg and the final
    # per-doc join - without the persist the whole explode + md5 pass
    # executes twice (guide §5).
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    gram = (
        f"transform(sequence(1, size(tk) - {_DUPSPAN_N - 1}), "
        f"i -> substring(md5(cast(concat_ws(' ', "
        f"slice(tk, i, {_DUPSPAN_N})) as binary)), 1, 16))"
    )
    g = (
        docs.select("doc_id", tokens("text").alias("tk"))
        .where(F.size("tk") >= _DUPSPAN_N)
        .select("doc_id", F.explode(F.expr(gram)).alias("gk"))
    )
    dg = caches.persist(
        g.groupBy("doc_id", "gk").agg(F.count("*").alias("c"))
    )
    gd = dg.groupBy("gk").agg(F.count("*").alias("n_docs"))
    per = (
        dg.join(gd, "gk")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        (
            F.col("n_dup_grams").cast("double")
            / F.col("n_grams").cast("double")
        ).alias("dup_share"),
    )


# ---------------------------------------------------------------------------
# Survivorship (golden-record selection) over topic-signature groups:
# where dedup_exact_content keeps the SMALLEST doc_id (a stable but
# arbitrary rule), real curation picks the BEST copy. Groups are docs
# sharing a TOPIC SIGNATURE - the sorted top-5 tokens by (count DESC,
# token) - the cheap blocking key for "retellings of the same content"
# (this fixture has zero byte-exact duplicates, so exact-hash groups
# are all singletons; the signature groups are where a survivorship
# rule has actual work to do). Within each group the survivor is the
# argmax of the text_quality_stats score with doc_id as tiebreak; the
# output records group size, the survivor, and the quality spread the
# rule exercised.
#
# Determinism: the quality score is the established fixed-association
# IEEE chain (text.py) on exact counts, PRE-QUANTIZED to micro ints;
# the argmax rides the composite integer key q_micro*1e12 - doc_id
# (exact in int64: q_micro <= 1e6 so the key tops out ~1e18 < 2^63 and
# quality strictly dominates for any doc_id < 1e12 - the
# latest_order_per_segment device).
#
# Scale notes (100 TB): the signature needs one (doc, token) count
# shuffle + a per-doc top-5 window (WindowGroupLimit map-side prune) +
# a doc-keyed rollup; the survivor pass is ONE signature-keyed shuffle
# with map-side partial arg-max. Only multi-doc groups survive the
# HAVING; nothing broadcasts.
@query(
    "golden_doc_selection",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t AS token, count(*) AS c
        FROM (SELECT doc_id, unnest({_OT}) AS t FROM documents)
        GROUP BY 1, 2
    ),
    r5 AS (
        SELECT doc_id, token, row_number() OVER (
            PARTITION BY doc_id ORDER BY c DESC, token) AS rn
        FROM tok
    ),
    sig AS (
        SELECT doc_id, array_to_string(list_sort(list(token)), ' ')
               AS signature
        FROM r5 WHERE rn <= 5 GROUP BY doc_id
    ),
    q AS (
        SELECT doc_id,
               {oracle_quality_micro()} AS q_micro
        FROM (SELECT doc_id, {_OT} AS toks FROM documents)
        WHERE len(toks) > 0
    )
    SELECT s.signature,
           CAST(count(*) AS BIGINT) AS group_size,
           arg_max(q.doc_id, q.q_micro * 1000000000000 - q.doc_id)
               AS survivor_doc_id,
           CAST(max(q.q_micro) AS DOUBLE) / 1000000 AS survivor_quality,
           CAST(max(q.q_micro) - min(q.q_micro) AS DOUBLE) / 1000000
               AS quality_spread
    FROM sig s JOIN q ON q.doc_id = s.doc_id
    GROUP BY s.signature HAVING count(*) >= 2
    """,
)
def golden_doc_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    w5 = W.partitionBy("doc_id").orderBy(F.desc("c"), "token")
    sig = (
        tok.withColumn("rn", F.row_number().over(w5))
        .where(F.col("rn") <= 5)
        .groupBy("doc_id")
        .agg(
            F.array_join(F.array_sort(F.collect_list("token")), " ").alias(
                "signature"
            )
        )
    )
    q = (
        docs.select("doc_id", tokens("text").alias("t"))
        .where(F.size("t") > 0)
        .select("doc_id", quality_micro().alias("q_micro"))
    )
    key = F.col("q_micro") * F.lit(1_000_000_000_000) - F.col("doc_id")
    return (
        sig.join(q, "doc_id")
        .select("signature", "doc_id", "q_micro", key.alias("k"))
        .groupBy("signature")
        .agg(
            F.count("*").alias("group_size"),
            F.max_by("doc_id", "k").alias("survivor_doc_id"),
            (F.max("q_micro").cast("double") / F.lit(1_000_000)).alias(
                "survivor_quality"
            ),
            (
                (F.max("q_micro") - F.min("q_micro")).cast("double")
                / F.lit(1_000_000)
            ).alias("quality_spread"),
        )
        .where(F.col("group_size") >= 2)
    )


# ---------------------------------------------------------------------------
# Near-dup removal impact report: what deduplication actually SAVES.
# Removal set = every doc that loses at least one verified MinHash+LSH
# near-dup pair (survivor = smaller doc_id, the pair contract above);
# the report is one row - corpus size, docs removed, chars/tokens
# removed, and the char share - the number a curation run publishes to
# justify itself (and the capacity-planning input for the next stage).
#
# The oracle WRAPS the minhash_lsh_near_dup oracle verbatim as a
# subquery, so the impact numbers are proven against the exact pair set
# the pair query itself is audited on - one contract, two views.
#
# Scale notes (100 TB): the pair pipeline is the audited sub-quadratic
# banding path; the removal set is a distinct on the loser column, the
# stats one semi-join-shaped aggregation over documents (doc_id-keyed),
# and the output is a single row. Nothing new shuffles the corpus.
def _impact_oracle() -> str:
    return f"""
    WITH pairs AS ({{pair_oracle}}),
    removed AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
    d AS (
        SELECT doc_id, n_chars, len({_OT}) AS n_toks,
               doc_id IN (SELECT doc_id FROM removed) AS is_removed
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (is_removed) AS BIGINT) AS n_removed,
           CAST(coalesce(sum(n_chars) FILTER (is_removed), 0) AS BIGINT)
               AS removed_chars,
           CAST(coalesce(sum(n_toks) FILTER (is_removed), 0) AS BIGINT)
               AS removed_tokens,
           CAST(CAST(coalesce(sum(n_chars) FILTER (is_removed), 0) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sum(n_chars) AS VARCHAR) AS DOUBLE) AS removed_char_share
    FROM d
    """


@query("near_dup_removal_impact", oracle="__PLACEHOLDER_IMPACT__")
def near_dup_removal_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_pairs(_shingle_base(spark, sf_dir))
    removed = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "n_chars", F.size(tokens("text")).alias("n_toks")
        )
        .join(
            removed.withColumn("is_removed", F.lit(True)), "doc_id", "left"
        )
        .select(
            "n_chars",
            "n_toks",
            F.coalesce("is_removed", F.lit(False)).alias("is_removed"),
        )
    )
    rem = F.when(F.col("is_removed"), 1).otherwise(0)
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(rem).cast("bigint").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(F.col("is_removed"), F.col("n_chars"))), F.lit(0)
        )
        .cast("bigint")
        .alias("removed_chars"),
        F.coalesce(
            F.sum(F.when(F.col("is_removed"), F.col("n_toks"))), F.lit(0)
        )
        .cast("bigint")
        .alias("removed_tokens"),
        (
            F.coalesce(
                F.sum(F.when(F.col("is_removed"), F.col("n_chars"))),
                F.lit(0),
            ).cast("double")
            / F.sum("n_chars").cast("double")
        ).alias("removed_char_share"),
    )


# resolve the impact oracle now that the registry holds the pair oracle
from ..registry import ORACLES as _DD_ORACLES  # noqa: E402

_DD_ORACLES["near_dup_removal_impact"] = _impact_oracle().format(
    pair_oracle=_DD_ORACLES["minhash_lsh_near_dup"]
)
