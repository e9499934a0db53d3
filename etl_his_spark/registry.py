"""Central query registry — the driver-contract surface.

Every operator from SURVEY.md §2 (plus the training-data extensions) is
registered here as a named (spark, sf_dir) -> DataFrame callable with,
where SQL-expressible, a DuckDB oracle twin. ``__spark_entry__.py``
exposes these as ``queries()`` / ``oracle_sql()``.

Registration happens at import time via the ``@register`` decorator in
the ``plans.queries_*`` modules, imported at the bottom of this file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name``; ``oracle`` is DuckDB SQL or None
    for non-SQL-expressible operators (rows-only driver check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Import for side effect: each module registers its queries.
from .plans import flagship  # noqa: E402,F401
from .plans import queries_core  # noqa: E402,F401
from .plans import queries_his_analog  # noqa: E402,F401
from .plans import queries_text  # noqa: E402,F401
from .plans import queries_dedup  # noqa: E402,F401
from .plans import queries_events  # noqa: E402,F401
from .plans import queries_analytics  # noqa: E402,F401
from .plans import queries_multimodal  # noqa: E402,F401
from .plans import queries_sql  # noqa: E402,F401
from .plans import queries_events2  # noqa: E402,F401
from .plans import queries_json  # noqa: E402,F401
from .plans import queries_tpch  # noqa: E402,F401
from .plans import queries_tpch2  # noqa: E402,F401
from .plans import queries_quality  # noqa: E402,F401
from .plans import queries_misc  # noqa: E402,F401
from .plans import corpus_pipeline  # noqa: E402,F401
from .plans import queries_incremental  # noqa: E402,F401
from .plans import queries_bench  # noqa: E402,F401
from .plans import queries_text2  # noqa: E402,F401
from .plans import queries_lakehouse  # noqa: E402,F401
from .plans import queries_curation  # noqa: E402,F401
from .plans import queries_training  # noqa: E402,F401
from .plans import queries_funnel  # noqa: E402,F401
from .plans import queries_vocab  # noqa: E402,F401
from .plans import queries_streaming  # noqa: E402,F401
from .plans import queries_lm  # noqa: E402,F401
from .plans import queries_retrieval  # noqa: E402,F401
from .plans import queries_graph  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Verification-window ordering.
#
# The external correctness harness checks the first 50 queries in dict
# order: positions 1-50 of _CHECK_FIRST are its window, and positions
# 51-67 lead the next one. Everything after keeps registration order;
# tests/test_oracles.py checks every oracle whatever its position.
# ---------------------------------------------------------------------------

_CHECK_FIRST = [
    # 1-7: code changed.
    "curation_lm_report",
    "source_overlap_matrix",
    "corpus_ngram_coverage_curve",
    "curation_contamination_attribution",
    "dedup_snapshot_incremental",
    "graph_triangle_counts",
    "graph_jaccard_neighbors",
    # 8-17: newest gates.
    "lakehouse_vacuum_plan",
    "stats_theil_sen_trend",
    "embedding_binary_recall",
    "events_ab_srm",
    "multimodal_png_walk",
    "events_conversion_latency",
    "lakehouse_skipping_stats",
    "text_vocab_drift",
    "events_bot_detection",
    "text_encoding_anomalies",
    # 18-40: longest-unverified, machinery-first.
    "streaming_join_agree",
    "streaming_enrich_agree",
    "training_bpe_encode",
    "dedup_semantic_cells",
    "multimodal_image_dedup",
    "multimodal_netpbm_decode",
    "flagship_fact",
    "scd2_customer_priority",
    "merge_delete_orders",
    "sample_stratified",
    "sample_deterministic",
    "sketch_approx_distinct",
    "sketch_approx_quantiles",
    "text_tfidf_topk",
    "events_sessionize",
    "events_window_agg",
    "dedup_simhash_pairs",
    "quality_rule_violations",
    "curation_repetition",
    "pivot_status",
    "stats_p95_group",
    "window_dist_functions",
    "incremental_new_keys",
    # 41-50: permanent family sentinels; never rotate out.
    "his_extraction_shape",
    "his_unpivot_slots",
    "tpch_q1_full",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "embedding_neardup",
    "text_simhash",
    "merge_upsert_orders",
    "json_extract_stats",
    # 51-67: leaders of the next window.
    "agg_collect_sorted",
    "explode_wordcount_topk",
    "filter_nonempty",
    "first_token",
    "text_tokens",
    "text_langid",
    "doc_fingerprint",
    "posexplode_positions",
    "text_word_tokens",
    "training_mixture_sample",
    "sql_q3_shipping_priority",
    "sql_q5_national_revenue",
    "sql_q10_returned_items",
    "tpch_q13_custdist",
    "tpch_q17_small_qty",
    "tpch_q20_promo_shippers",
    "tpch_q21_waiting",
]


def _reorder() -> None:
    # Missing names are skipped; tests/test_registry_order.py fails on
    # them instead.
    ordered = {n: QUERIES[n] for n in _CHECK_FIRST if n in QUERIES}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()


def ordered_queries() -> dict[str, QueryFn]:
    """The registry in verification-window order (_CHECK_FIRST first,
    then registration order) — the dict __spark_entry__ exposes."""
    _reorder()
    return dict(QUERIES)
