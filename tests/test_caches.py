"""The query-scoped persist and checkpoint lifecycle (caches.py).

Every persisted relation goes through caches.persist() or
caches.persist_when_scaled(), every lineage cut through
caches.checkpoint(), and all land in ONE scope; building a query
through registry.QUERIES releases the previous query's relations first,
while a direct call between operators keeps its caller's. Three checks:

* site parity - each query registers exactly as many persists as when
  every operator module kept its own cache list (the table below was
  recorded from that layout, forced gate, sf0.001), so no persist site
  was dropped or added, and exactly as many checkpoints as its plan
  cuts at sf0.001;
* scope semantics - cross-family release through QUERIES (checkpoint
  blocks included), no release on a direct (nested) call;
* source lints - no package module but caches.py persists, unpersists,
  checkpoints or keeps a module-level ``*_CACHE`` list, and none but
  caches.py and tables.py probes scan splits or passes a hand-counted
  ``dup=``.
"""

from __future__ import annotations

import ast
import inspect
import os

import pytest

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark import caches, tables
from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

from .conftest import SF_SMOKE

_PKG_DIR = os.path.dirname(engine.__file__)

# The operator modules that persist or checkpoint anything.
_SCOPED_MODULES = {
    "clusters", "curation", "dedup", "extras", "filtering", "insights",
    "mlprep", "relational", "similarity", "statistics", "temporal", "text",
    "tpch", "windows",
}

# Relations each query registers when built with
# SPARK_GRAFT_FORCE_SCALE_PERSIST=1 at sf0.001, recorded from the
# per-module cache lists this scope replaced. Every other query of
# _SCOPED_MODULES registers none.
_PERSIST_SITES = {
    "ann_recall_eval": 1,
    "assoc_rules_lift": 2,
    "attribution_window_sweep": 1,
    "benchmark_decontam_overlap": 1,
    "bigram_pmi_collocations": 2,
    "binseg_changepoints": 2,
    "bloom_filter_semi_join": 2,
    "bm25_doc_ranking": 2,
    "cdc_changelog_compaction": 1,
    "chi_square_lang_source": 1,
    "cm_heavy_hitters": 1,
    "cohort_ltv_matrix": 1,
    "column_entropy_profile": 1,
    "containment_near_dup": 2,
    "cross_source_ngram_overlap": 1,
    "cuped_ab_adjustment": 1,
    "curriculum_stage_assignment": 1,
    "dedup_clusters": 3,
    "degree_assortativity": 2,
    "degree_powerlaw_check": 1,
    "dq_constraint_violations": 2,
    "dup_ngram_span_share": 1,
    "embedding_centroid_drift": 1,
    "embedding_near_dup_pairs": 1,
    "ewma_control_chart": 1,
    "fd_violation_profile": 1,
    "growth_accounting_daily": 2,
    "hash_sample_bias_audit": 1,
    "heaps_law_curve": 1,
    "incremental_lsh_dedup": 2,
    "item_item_recs": 2,
    "ivf_cell_balance": 1,
    "ivf_topk_similar": 1,
    "ivfpq_topk_similar": 1,
    "khop_part_reach": 1,
    "kl_divergence_source_lang": 1,
    "kmv_user_overlap": 2,
    "label_propagation_communities": 1,
    "lang_temperature_resample": 1,
    "logodds_distinctive_terms": 1,
    "market_basket_part_pairs": 1,
    "minhash_lsh_near_dup": 2,
    "near_dup_recall_eval": 4,
    "near_dup_removal_impact": 2,
    "near_dup_threshold_sweep": 1,
    "ngram_jaccard_near_dup": 3,
    "pmi_lang_source": 1,
    "price_volume_mix_bridge": 1,
    "rank_movers_wow": 1,
    "recsys_holdout_eval": 3,
    "semdedup_embedding_prune": 1,
    "simhash_hamming_pairs": 1,
    "stl_daily_decomposition": 1,
    "table_profile_orders": 1,
    "tfidf_cosine_pairs": 2,
    "tfidf_top_terms": 1,
    "topk_stability_audit": 1,
    "tpch_q11_important_stock": 1,
    "triangle_count_parts": 4,
    "unigram_logprob_filter": 1,
    "weekly_active_users": 1,
}


# Checkpoints each query registers at sf0.001: one per lineage cut, per
# round in the loops (dedup_clusters: the edge and vertex cuts plus one
# per connected-components round, 2 rounds here). Every other query of
# _SCOPED_MODULES registers none.
_CHECKPOINT_SITES = {
    "decile_lift_table": 1,
    "dedup_clusters": 4,
    "khop_part_reach": 3,
    "label_propagation_communities": 3,
    "ntile_price_deciles": 1,
    "pack_token_sequences": 1,
    "pagerank_trade_graph": 4,
    "pca_power_iteration": 1,
    "supplier_recs_fof": 1,
    "tpch_q15_top_supplier": 1,
}


def _persisted(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _scope() -> tuple[list, list]:
    """(persisted frames, checkpointed frames) of the query scope."""
    return (
        [df for df, is_checkpoint in caches._SCOPE if not is_checkpoint],
        [df for df, is_checkpoint in caches._SCOPE if is_checkpoint],
    )


def _held_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_rdds(frames) -> set[int]:
    return {df._jdf.logicalPlan().rdd().id() for df in frames}


def test_persist_site_parity(spark, monkeypatch):
    """Building each query (forced gate, so every gated site engages)
    leaves exactly the recorded number of persists and checkpoints in
    the scope, every persist really persisted and every checkpoint's
    blocks really held."""
    engine.load_all_operators()
    monkeypatch.setenv("SPARK_GRAFT_FORCE_SCALE_PERSIST", "1")
    names = [
        n for n, fn in QUERIES.items()
        if fn.__module__.rsplit(".", 1)[-1] in _SCOPED_MODULES
    ]
    assert set(_PERSIST_SITES) | set(_CHECKPOINT_SITES) <= set(names)
    got = {}
    try:
        for name in names:
            QUERIES[name](spark, SF_SMOKE)
            persists, checkpoints = _scope()
            got[name] = (len(persists), len(checkpoints))
            assert all(map(_persisted, persists)), name
            assert _checkpoint_rdds(checkpoints) <= _held_rdds(spark), name
    finally:
        caches.release_all()
    want = {
        n: (_PERSIST_SITES.get(n, 0), _CHECKPOINT_SITES.get(n, 0)) for n in names
    }
    drift = {n: (got[n], want[n]) for n in names if got[n] != want[n]}
    assert drift == {}, "query: ((persists, checkpoints) registered, recorded)"


def test_query_scope_releases_across_families_but_not_nested(spark):
    """A query built through QUERIES releases what the previous query
    persisted, whatever its family; a direct call from one operator to
    another (the undecorated function) keeps its caller's relations."""
    from data_engineering_spotify_etl_airflow_aws_spark.operators.dedup import (
        ngram_jaccard_near_dup,
    )

    engine.load_all_operators()
    try:
        # cross-family: the MinHash relations go when the (gated, not
        # engaged at sf0.001) KL query is built
        QUERIES["minhash_lsh_near_dup"](spark, SF_SMOKE)
        minhash, checkpoints = _scope()
        assert len(minhash) == 2 and all(map(_persisted, minhash))
        assert checkpoints == []
        QUERIES["kl_divergence_source_lang"](spark, SF_SMOKE)
        assert not any(map(_persisted, minhash))

        # nested: dedup_clusters calls ngram_jaccard_near_dup directly,
        # so the shingle base it persisted survives the whole build
        QUERIES["dedup_clusters"](spark, SF_SMOKE)
        persists, checkpoints = _scope()
        shingle_base = persists[0]
        assert len(persists) == 3 and _persisted(shingle_base)
        assert len(checkpoints) == _CHECKPOINT_SITES["dedup_clusters"]
        QUERIES["near_dup_recall_eval"](spark, SF_SMOKE)
        persists, checkpoints = _scope()
        shingle_base = persists[0]
        assert len(persists) == 4 and _persisted(shingle_base)
        assert checkpoints == []
        # a direct call adds to the scope instead of releasing it (its
        # shingle base has the same plan, so Spark reuses the cache)
        ngram_jaccard_near_dup(spark, SF_SMOKE)
        persists, checkpoints = _scope()
        assert len(persists) == 7 and _persisted(shingle_base)
        assert checkpoints == []
    finally:
        caches.release_all()
    assert not _persisted(shingle_base)

    # the stored wrapper still presents the operator to introspection
    # (audit rotation reads __module__, the hygiene lints read source)
    wrapper = QUERIES["ngram_jaccard_near_dup"]
    assert wrapper is not ngram_jaccard_near_dup
    assert wrapper.__wrapped__ is ngram_jaccard_near_dup
    assert wrapper.__module__ == ngram_jaccard_near_dup.__module__
    assert "def ngram_jaccard_near_dup" in inspect.getsource(wrapper)


def test_next_query_frees_checkpoint_blocks(spark):
    """Building the next query through QUERIES drops the previous
    query's checkpoint blocks along with its persists, so no checkpoint
    outlives its query; a frame kept over a released checkpoint fails
    when it runs again instead of holding executor memory."""
    engine.load_all_operators()
    try:
        pagerank = QUERIES["pagerank_trade_graph"](spark, SF_SMOKE)
        pagerank_cuts = _checkpoint_rdds(_scope()[1])
        assert len(pagerank_cuts) == 4
        assert pagerank_cuts <= _held_rdds(spark)
        pagerank.collect()

        QUERIES["dedup_clusters"](spark, SF_SMOKE).collect()
        dedup_cuts = _checkpoint_rdds(_scope()[1])
        assert len(dedup_cuts) == _CHECKPOINT_SITES["dedup_clusters"]
        assert dedup_cuts <= _held_rdds(spark)
        assert not pagerank_cuts & _held_rdds(spark)

        QUERIES["rollup_agg"](spark, SF_SMOKE).collect()
        assert not (pagerank_cuts | dedup_cuts) & _held_rdds(spark)

        with pytest.raises(Exception, match="[Cc]heckpoint block"):
            pagerank.collect()
    finally:
        caches.release_all()


def _lifecycle_violations(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read())
    bad = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in (
                "persist", "unpersist", "cache", "localCheckpoint", "checkpoint"
            )
            and not (
                isinstance(node.func.value, ast.Name)
                and node.func.value.id == "caches"
            )
        ):
            bad.append(f"line {node.lineno}: .{node.func.attr}(")
    for node in tree.body:
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign)
            else []
        )
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                bad.append(f"line {node.lineno}: module-level {t.id}")
    return bad


def _scale_probe_violations(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read())
    probes = path in (caches.__file__, tables.__file__)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(
            func, "id", None
        )
        if name in ("scan_splits", "getNumPartitions") and not probes:
            bad.append(f"line {node.lineno}: {name}(")
        if any(kw.arg == "dup" for kw in node.keywords):
            bad.append(f"line {node.lineno}: dup=")
    return bad


def _package_violations(check, allowed=()) -> dict[str, list[str]]:
    """``check(path)`` over every package module but ``allowed``."""
    found = {}
    for root, _, files in os.walk(_PKG_DIR):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path in allowed:
                continue
            bad = check(path)
            if bad:
                found[os.path.relpath(path, _PKG_DIR)] = bad
    return found


def test_only_caches_module_persists():
    """Persisting, unpersisting, checkpointing and cache lists belong to
    caches.py alone; everywhere else persists through caches.persist() /
    caches.persist_when_scaled() and cuts lineage through
    caches.checkpoint(), so the query scope releases it."""
    assert _package_violations(_lifecycle_violations, {caches.__file__}) == {}


def test_only_scale_gates_probe_splits():
    """The scale rule has one probe: only tables.py and caches.py call
    scan_splits / getNumPartitions (every other module goes through
    widen_small_scan or persist_when_scaled with its base frame), and
    no call passes a hand-counted ``dup=``."""
    assert _package_violations(_scale_probe_violations) == {}
