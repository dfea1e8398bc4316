"""Per-round benchmark: times every registered query at the bench scale
factor and emits ONE machine-readable JSON line on stdout.

Contract (driver): {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": N}. Spark chatter goes to stderr; the
JSON line is the only stdout output.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark import registry
from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark


def _scratch_bytes(root: str, deadline: float) -> int | None:
    """Total bytes under the Spark scratch root (blockmgr-*/spark-* trees).
    Cheap on tmpfs (pure memory walk). The walk itself honors the drain
    deadline: on a disk root holding very many shuffle files a single
    os.walk pass could outlast the whole budget, so past the deadline it
    returns None ("stop polling") instead of stalling the bench."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        if time.perf_counter() > deadline:
            return None
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass  # deleted mid-walk by the cleaner - that's the point
    return total


def _drain_shuffle_cleanup(spark, max_wait: float = 2.0) -> None:
    """Force a GC so shuffle weak-refs enqueue, then wait (bounded) until
    the ContextCleaner's asynchronous deletes stop shrinking the scratch
    dir. A fixed post-GC sleep has no completion guarantee (r7 ADVICE):
    the cleaner runs on its own thread, so we poll the observable effect
    instead. The first sleep is the old fixed 0.3s: "not shrinking" right
    after the GC is indistinguishable from "cleaner hasn't woken yet", so
    stability only counts after the cleaner has had a tick to start.
    With tmpfs scratch this is belt-and-suspenders - deletes are memory
    ops - so the wait usually exits on the first stable sample; the
    deadline (also enforced inside each tree walk) keeps a slow disk
    root from stalling the bench."""
    spark.sparkContext._jvm.System.gc()
    root = spark.sparkContext.getConf().get("spark.local.dir", "/tmp")
    deadline = time.perf_counter() + max_wait
    time.sleep(0.3)
    prev = _scratch_bytes(root, deadline)
    while prev is not None and time.perf_counter() < deadline:
        time.sleep(0.1)
        cur = _scratch_bytes(root, deadline)
        if cur is None or cur >= prev:  # stopped shrinking (or out of budget)
            break
        prev = cur


def build_stdout_payload(full: dict) -> dict:
    """The lean stdout contract line, derived from the full result.

    r16 lost its round-over-round PERF comparison because the driver's
    capture of the r15 stdout line kept only a 2000-char tail - the line
    had grown to ~30k chars once ``repeat_samples`` (and any ``failed``
    detail) rode along with the 343 query timings. The contract fields
    stay on stdout verbatim; the bulky diagnostics now live ONLY in the
    SPARK_GRAFT_BENCH_OUT snapshot (additions-only change: nothing the
    driver reads was removed or renamed - repeat_samples/failed were
    r11/r8 additions the driver never consumed, and the full payload is
    still written to the snapshot file).
    """
    out = {
        k: full[k]
        for k in ("metric", "value", "unit", "queries", "sf", "n_queries")
    }
    if full.get("failed"):
        out["n_failed"] = len(full["failed"])
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    engine.load_all_operators()
    # SF-aware heap: pass the bench fixture so big fixtures (sf10's
    # 2.3 GB) get the measured 32g sizing instead of OOM-ing 1500s in
    # (r14 pass-1 finding, codified r15; SPARK_GRAFT_DRIVER_MEM wins)
    spark = get_spark(app_name="bench", sf_dir=sf_dir)

    # Warm one-time infrastructure on the smallest fixture so no measured
    # query pays session startup instead of its own cost: count_star warms
    # the JVM/codegen path, rest_api_songs warms the Python DataSource
    # worker pool, multimodal_digest_features warms the Arrow/Pandas-UDF
    # runner, streaming_ingest_songs warms the Structured Streaming engine.
    # (Cold-vs-warm deltas here are 5-8s of interpreter/worker spin-up,
    # measured; the warmups run on sf0.001 so no sf-scale data is cached.)
    warm_dir = sf_dir.replace(f"sf{m.group(1)}", "sf0.001") if m else sf_dir
    # The tiled sf1 fixture lives under data/ with no sf0.001 sibling; a
    # missing warm dir used to make every warmup except-and-pass SILENTLY
    # (r13 finding: the r12 sf1 subset bench ran unwarmed, charging
    # first-run codegen to its first measured queries). Fall back to the
    # driver fixture tree so sf1 runs warm the same paths sf0.1 runs do.
    if not os.path.isdir(warm_dir):
        warm_dir = "/root/testdata/sf0.001"
    # r14 (ADVICE): the warmup loop's except-and-continue used to be
    # except-and-PASS, so a missing fallback dir (another host) or a
    # broken warm query re-created the exact unwarmed-bench failure this
    # fallback was added to close - silently. A missing fixture dir is
    # now a hard error (every warm query would fail; the bench would be
    # entirely cold), and each individual warm failure is counted and
    # reported on stderr so an unwarmed run is visible in the log.
    if not os.path.isdir(warm_dir):
        print(
            f"bench: no warmup fixture dir ({warm_dir}); refusing to run "
            "an unwarmed bench - set SPARK_GRAFT_SF_DIR next to an "
            "sf0.001 sibling or provide /root/testdata/sf0.001",
            file=sys.stderr,
        )
        return 1
    warm_failures = 0
    for warm_q in (
        "count_star",
        "rest_api_songs",  # Python DataSource worker pool
        "multimodal_digest_features",  # Arrow / Pandas-UDF runner
        "streaming_ingest_songs",  # Structured Streaming engine
        "stream_dedup_events",  # streaming state-store machinery
        "stateful_running_totals",  # applyInPandasWithState worker path
        "doc_repetition_stats",  # tokenize + zip_with n-gram codegen
        "ngram_jaccard_near_dup",  # shingle index / PPJoin join path
        "promo_range_join",  # bucketed interval-join codegen path
        "kmeans_embedding_clusters",  # d2/decimal-mean codegen (9.6s cold
        #   vs 2.6s warm at sf0.1, measured r6 - first-run codegen, not work)
        "ivf_topk_similar",  # centroid-pick + cosine-score codegen path
        "dedup_clusters",  # CC fixpoint loop machinery + jaccard codegen
        "pagerank_trade_graph",  # power-iteration loop + checkpoint path
        "stream_left_join_click_purchase",  # outer-join state + flush path
        "pq_adc_recall_eval",  # PQ assignment + ADC LUT fold codegen
        #   (covers pq_encode_embeddings' 128 subspace-distance exprs too)
        "cross_source_ngram_overlap",  # shingle-matrix self-join codegen
        "tpch_q2_min_cost_supplier",  # derived-partsupp agg + window codegen
        #   (shared with the q9/q11/q16/q20 partsupp analogs)
        "cm_heavy_hitters",  # md5-bucket sketch codegen
        "ema_user_value",  # collect-sort-fold codegen
        "triangle_count_parts",  # basket-combos + array-intersect codegen
        #   (shared with item_item_recs' pair build)
        "recsys_holdout_eval",  # the suite's largest plan: 12.7s in-suite
        #   vs 9.2-9.5s warm standalone (judge-measured x3, r7) was pure
        #   first-run codegen; warming on sf0.001 removes it
    ):
        try:
            registry.QUERIES[warm_q](spark, warm_dir).collect()
        except Exception as exc:
            warm_failures += 1
            print(
                f"bench: warmup query {warm_q} failed "
                f"({type(exc).__name__}: {exc})"[:300],
                file=sys.stderr,
            )
    if warm_failures:
        print(
            f"bench: {warm_failures} warmup queries failed - the paths "
            "they cover will pay first-run codegen inside measured "
            "windows (see r13 unwarmed-sf1 finding)",
            file=sys.stderr,
        )
    # Pre-build the streaming chunk feeds for the MEASURED sf_dir: the
    # chunk layout is fixture setup (written once per data generation,
    # chunks.py), not part of the streaming operators under test, so the
    # first streaming query of a fresh generation should not absorb the
    # one-time write into its measurement.
    try:
        from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
            plain_event_feed,
        )
        from data_engineering_spotify_etl_airflow_aws_spark.streaming.dedup import (
            dup_event_feed,
        )

        from data_engineering_spotify_etl_airflow_aws_spark.streaming.joins import (
            outer_event_feed,
        )

        plain_event_feed(spark, sf_dir)
        dup_event_feed(spark, sf_dir)
        outer_event_feed(spark, sf_dir)
    except Exception:
        pass
    # Same setup-vs-operator split for the bucketed join tables: the
    # bucketed write happens once per data generation, not per query run.
    try:
        from data_engineering_spotify_etl_airflow_aws_spark.operators.extras import (
            ensure_bucketed_join_tables,
        )

        ensure_bucketed_join_tables(spark, sf_dir)
        from data_engineering_spotify_etl_airflow_aws_spark.operators.extras import (
            ensure_day_partitioned_events,
        )

        ensure_day_partitioned_events(spark, sf_dir)
        from data_engineering_spotify_etl_airflow_aws_spark.operators.extras import (
            ensure_range_clustered_events,
        )

        ensure_range_clustered_events(spark, sf_dir)
        from data_engineering_spotify_etl_airflow_aws_spark.operators.extras import (
            ensure_schema_evolution_snapshots,
        )

        ensure_schema_evolution_snapshots(spark, sf_dir)
        from data_engineering_spotify_etl_airflow_aws_spark.operators.extras import (
            ensure_zorder_clustered_events,
        )

        ensure_zorder_clustered_events(spark, sf_dir)
        from data_engineering_spotify_etl_airflow_aws_spark.operators.extras import (
            ensure_orc_events,
        )

        ensure_orc_events(spark, sf_dir)
        from data_engineering_spotify_etl_airflow_aws_spark.operators.maintenance import (
            ensure_fragmented_events,
        )

        ensure_fragmented_events(spark, sf_dir)
    except Exception:
        pass
    spark.catalog.clearCache()

    # Optional subset run (SPARK_GRAFT_QUERIES="a,b,c"): used by the
    # two-decade scaling audit to time only the flag-eligible queries at
    # sf1. The driver never sets it, so per-round bench runs are always
    # the full registry.
    names = sorted(registry.QUERIES)
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    if only:
        want = {n.strip() for n in only.split(",") if n.strip()}
        unknown = sorted(want - set(names))
        if unknown:
            print(f"SPARK_GRAFT_QUERIES unknown: {unknown}", file=sys.stderr)
            return 1
        names = [n for n in names if n in want]

    timings: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in names:
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # a failing query must not sink the bench
            failed[name] = f"{type(exc).__name__}: {exc}"[:200]
        # Intra-query persists (e.g. the minhash shingle base) must not
        # leak executor memory into - or serve warm reads to - later
        # measurements (round-2 ADVICE).
        spark.catalog.clearCache()
        # Drain deferred cleanup OUTSIDE the measured windows: shuffle
        # files die only when a GC enqueues their weak refs and the
        # ContextCleaner deletes them - by default that lands mid-way
        # through some LATER query's measurement (observed r7: 8-20s
        # smeared over the queries following the heaviest shuffle
        # producer, on random victims per run). A forced GC after each
        # heavy producer moves that cost between measurements, where
        # harness overhead belongs. The >4s wall-time trigger is a
        # HEURISTIC proxy for "left a big shuffle behind" (it also fires
        # on slow non-shuffle queries, where the drain is a harmless
        # ~0.1s re-warm for the next query, measured A/B at a 2s
        # threshold); only the giant producers (recsys, the iterative
        # graph ops) leave enough behind to matter, so it stays rare.
        if timings.get(name, 0.0) > 4.0:
            _drain_shuffle_cleanup(spark)

    # Min-of-2 for every query whose first sample exceeds 1 s (r11
    # verdict #7, widening the r8 top-20 rule): this host's suite-total
    # spread is ~25% on identical code (344 vs 422s, r8), and host phase
    # lands on random victims - a fixed top-N leaves mid-weight queries
    # single-sampled, where a 0.3s scheduler stall reads as a 30%
    # "regression". A second, warm in-process repeat is cheap (the >1s
    # tail sums to ~265s at sf0.1, mostly faster on repeat), and
    # min-of-2 is a far lower-variance per-query statistic for
    # cross-round comparison. Queries under 1s stay single-sample: their
    # jitter band is the measurement floor itself, which no repeat
    # fixes. Both samples are recorded under "repeat_samples"; "queries"
    # and the suite total carry the min. The repeat keeps the main
    # loop's cache/drain discipline so it measures the same thing the
    # first pass did.
    # r14: overridable for the very-long-running scale points (sf10
    # subset runs measure 30-300s queries where a second sample buys <1%
    # jitter reduction for 2x the wall clock; exponent pairs must then
    # use the SAME floor on both sides so neither side is min-biased).
    # The driver never sets it, so per-round runs keep min-of-2.
    repeat_floor_sec = float(os.environ.get("SPARK_GRAFT_REPEAT_FLOOR", "1.0"))
    samples: dict[str, list[float]] = {}
    repeat_failed: dict[str, str] = {}
    for name in sorted(timings, key=lambda n: timings[n], reverse=True):
        if timings[name] <= repeat_floor_sec:
            break
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        second = None
        try:
            fn(spark, sf_dir).collect()
            second = round(time.perf_counter() - t0, 4)
        except Exception as exc:
            # The query ALREADY measured successfully once - a transient
            # repeat failure must not flip the bench to rc=1 or discard
            # the valid first sample; record it separately.
            repeat_failed[name] = f"{type(exc).__name__}: {exc}"[:200]
        # cache/drain hygiene runs on BOTH paths: a failed repeat can
        # still have left cached relations and shuffle litter behind,
        # and the next repeat's measurement must not absorb them
        spark.catalog.clearCache()
        if max(timings[name], second or 0.0) > 4.0:
            _drain_shuffle_cleanup(spark)
        if second is not None:
            samples[name] = [timings[name], second]
            timings[name] = min(timings[name], second)

    out = {
        "metric": "suite_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
    }
    if samples:
        out["repeat_samples"] = samples
    if repeat_failed:
        out["repeat_failed"] = repeat_failed
    if failed:
        out["failed"] = failed
    # stdout carries the lean contract line; the full payload (with
    # repeat_samples / failure detail) goes to the snapshot file below
    print(json.dumps(build_stdout_payload(out)), flush=True)
    line = json.dumps(out)
    # Atomic evidence snapshot (r9 verdict #2): the r9 end-of-round
    # snapshot truncated a committed evidence file to 0 bytes because the
    # shell redirection `bench.py > evidence/x.json` truncates the target
    # the moment the process starts, long before the JSON exists. With
    # SPARK_GRAFT_BENCH_OUT=<path> the result is instead written to a
    # temp file in the target directory and os.replace'd into place -
    # the same temp+rename pattern the SWEEPS.json recorder uses
    # (tests/conftest.py) - so an interrupted run leaves the previous
    # snapshot intact rather than an empty file.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        tmp = out_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(line + "\n")
        os.replace(tmp, out_path)
    # free the last query's persisted relations (the query scope holds
    # them until the next registry query or session shutdown)
    from data_engineering_spotify_etl_airflow_aws_spark import caches

    caches.release_all()
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
