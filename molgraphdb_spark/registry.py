"""Central registry assembling queries() / oracle_sql() for the driver.

Each query module exposes ``QUERIES: dict[str, callable]`` and
``ORACLES: dict[str, str]`` (oracle omitted → driver runs a weaker
rows-only check). Modules are imported defensively so one broken
optional dependency never takes down the whole surface.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Order matters: the driver verifies only the first 50 registry entries
# per round. _PRIORITY rotates the verification window each round so the
# oldest/weakest rows get re-checked first; _QUERY_MODULES supplies the
# remainder in module order.
_QUERY_MODULES = [
    "molgraphdb_spark.queries.similarity",
    "molgraphdb_spark.queries.graph_queries",
    "molgraphdb_spark.queries.chem_queries",
    "molgraphdb_spark.queries.multimodal_queries",
    "molgraphdb_spark.queries.dedup",
    "molgraphdb_spark.queries.events",
    "molgraphdb_spark.queries.temporal",
    "molgraphdb_spark.queries.text",
    "molgraphdb_spark.queries.setops",
    "molgraphdb_spark.queries.reshape",
    "molgraphdb_spark.queries.relational",
    "molgraphdb_spark.queries.tpch_rest",
    "molgraphdb_spark.queries.mixing",
    "molgraphdb_spark.queries.linkage",
    "molgraphdb_spark.queries.spans",
]

# ---------------------------------------------------------------
# Round-15 verification window (first 50), per the r14 verdict item 1
# (staleness ledger = tools/gen_query_index.last_driver_green over all
# fourteen CORRECTNESS_r*.json — recomputed this session: r10:18,
# r11:48, r12:48, r13:48, r14:50):
# - 9 r14-optimization changed-code re-gates the driver has never
#   re-hashed (the r14 verdict's "What's wrong" #1 list): pq_code_stats,
#   similarity_ivf_topk, similarity_ivf_recall, similarity_cosine_topk,
#   similarity_lsh_topk, similarity_knn_graph, dedup_embedding_lsh,
#   dedup_semantic_clusters, retrieval_rrf_hybrid — all verified
#   builder-side at sf0.01 in r14, re-gated by the driver here.
# - 25 r15 changed-code re-gates (this round's optimizations): the 8
#   individually rewritten paths (pagerank, kcore, chem expansion,
#   covariance, DSIR, BM25, png/jpeg decode) + all 17 dedup-family
#   consumers of the _norm_docs work repartition. Every one
#   pre-verified hash-green at sf0.01 by tools/parity this session.
# - ALL remaining r10-stale rows (16 — pq_code_stats and
#   similarity_cosine_topk already lead above).
# 9 + 25 + 16 = 50 exactly; no fills needed. DISPLACED DEBT: the 48
# r11-stale rows (agg_stats_lineitem ... window_running_total) are the
# r16 window's floor after r15 debuts/changed-code re-gates.
#
# r13 window record (kept for the ledger trail):
# Composition (staleness ledger = tools/gen_query_index
# .last_driver_green over all twelve CORRECTNESS_r*.json):
# - 2 r13 changed-code re-gate leads: similarity_ivfpq_topk (now
#   routed through operators/pq.ivfpq_index + ivfpq_search — the r12
#   verdict item 4 unification; pre-verified hash-identical at sf0.01)
#   and embedding_hard_negatives_ann (production-K branch now uses
#   assign_cells_balanced — the hot-centroid split remediation; the
#   literal test-scale path is untouched and pre-verified at sf0.01).
# - ALL 37 r8-stale rows (the entire staleness floor). 13 of them
#   (dedup_clusters, doc_bm25_topk, doc_decontaminate_overlap,
#   doc_fingerprint, doc_language_id, doc_ngram_topk, doc_pack_offsets,
#   doc_quality_classifier, doc_quality_scores, doc_token_stats,
#   retrieval_rrf_hybrid, source_temperature_weights,
#   source_token_budget) double as re-gates of the r13 whitespace
#   migration (every \s tokenizer -> explicit [ \t\n\r\f] class).
# - 11 more whitespace-migrated rows, oldest-driver first (r9:
#   dedup_cross_source_matrix dedup_exact dedup_keep_best
#   dedup_lsh_verified dedup_simhash_pairs doc_collocation_pmi
#   doc_dsir_selection doc_perplexity_buckets doc_priority_sample
#   neardup_containment_pairs neardup_jaccard_pairs).
# 2 + 37 + 11 = 50 exactly. Its displaced whitespace-migration debt
# (37 queries, all pre-verified hash-green at sf0.01 in the r13 build
# session) is absorbed by the r14 window above: the 10 oldest (3 r9 +
# 7 r10) re-gate explicitly this round, the r11/r12 remainder ages
# into later windows through the normal staleness rotation.
_PRIORITY = [
    # ---- 9 r14-optimization changed-code re-gates (never driver-
    # re-hashed; r14 verdict "What's wrong" #1) ----
    "pq_code_stats",
    "similarity_ivf_topk",
    "similarity_ivf_recall",
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "similarity_knn_graph",
    "dedup_embedding_lsh",
    "dedup_semantic_clusters",
    "retrieval_rrf_hybrid",
    # ---- 25 r15 changed-code re-gates (this round's optimizations;
    # all pre-verified hash-green at sf0.01 by tools/parity this
    # session — see OPTIMIZATION_r15.md) ----
    # individually rewritten paths first:
    "graph_pagerank_top",       # pagerank loop rewrite (verts_w state)
    "graph_kcore_summary",      # core_numbers assume_distinct
    "chem_edit_expansion",      # expand_relations driver dispatch
    "embedding_covariance_stats",  # mapInArrow moment accumulator
    "doc_dsir_selection",       # _docs_wide work partition
    "doc_bm25_topk",            # _docs_wide work partition
    "mm_decoded_png",           # decode work partition
    "mm_decoded_jpeg",          # decode work partition
    # the dedup family: _shingle_rows/_sig_df consumers ride the
    # _norm_docs_wide single-split work repartition
    # (neardup_prefix_pairs additionally switched its df ranking to a
    # count window); dedup_exact / dedup_incremental_flags /
    # dedup_simhash reverted to their r14 shapes after the solo-bench
    # campaign showed the extra exchange hurt them — kept in the
    # window as re-gates of that revert:
    "neardup_prefix_pairs",
    "dedup_cross_source_matrix",
    "dedup_lsh_verified",
    "neardup_jaccard_pairs",
    "neardup_containment_pairs",
    "dedup_simhash_pairs",
    "dedup_simhash",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_threshold_curve",
    "neardup_degree_hist",
    "dedup_exact",
    "dedup_incremental_flags",
    "dedup_rate_by_source",
    "doc_ngram_novelty",
    # ---- ALL 16 remaining r10-stale rows (the staleness floor) ----
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q12_ship_priority",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q17_small_qty_revenue",
    "q20_excess_suppliers",
    "q21_waiting_suppliers",
    "sample_stratified_docs",
    "setop_except_nations",
    "setop_intersect_nations",
    "setop_union_nations",
    "skew_salted_status_counts",
]




def _reorder(d: dict) -> dict:
    head = {k: d[k] for k in _PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def _collect() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for modname in _QUERY_MODULES:
        try:
            mod = importlib.import_module(modname)
        except ModuleNotFoundError:
            continue  # module not built yet
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} from {modname}")
            queries[name] = fn
        oracles.update(getattr(mod, "ORACLES", {}))
    return _reorder(queries), oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    queries, oracles = _collect()
    return {k: v for k, v in oracles.items() if k in queries}
