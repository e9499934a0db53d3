"""Plan-posture audit: assert scale properties on EVERY gate query.

Checks each registered query's executed plan for the two physical
signals that silently break at 100 TB:

1. ``Exchange SinglePartition`` — all data forced through one task.
   Allowed only where documented: dimension-scale dense-id windows and
   single-row FINAL aggregates (the partial aggregation upstream has
   already reduced the data to one row per partition).
2. ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — all-pairs work.
   Allowed only for the similarity baselines whose scale path
   (bucketing/blocking) is documented at the operator.

Exit 1 on violations — run alongside the correctness checker whenever
a query or operator changes.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_his_spark.operators.pin import observe_pins  # noqa: E402

# SinglePartition allowed: dim-scale id minting (bounded cardinality,
# documented at operators/surrogate.dense_ids_small) or single-row
# final aggregates (tiny by construction after partial agg).
SINGLE_PARTITION_ALLOW = {
    "surrogate_dense_ids",   # customer-dim ids
    "fk_resolution",         # dim ids feeding the join
    "flagship_fact",         # dim_cliente ids
    "his_bridge_derivation", # prestacion-dim ids
    "incremental_new_keys",  # dim ids on both sides
    "tpch_q14_promo",        # single-row final aggregate
    "stats_correlation",     # single-row final aggregate
    "tpch_q6_forecast",      # single-row final aggregate
    "tpch_q17_small_qty",    # single-row final aggregate
    "tpch_q19_disjunctive",  # single-row final aggregate
    "tpch_q11_important",    # 1-row global-total scalar (then broadcast)
    "tpch_q15_top_supplier", # 1-row scalar MAX (then broadcast)
    "tpch_q22_dormant",      # 1-row scalar AVG (then broadcast)
    "lakehouse_zorder",      # 1-row min/max extremes (then broadcast)
    # cumulative window over DISTINCT rounded quality values — a
    # domain bounded at ≤ 10^6 cells at any corpus size (the
    # positional-median bounded-global-window argument)
    "stats_ks_drift",
    # 1-row corpus-totals aggregate (N, V) then broadcast
    "quality_unigram_likelihood",
    # two 1-row half-corpus token totals then broadcast — the
    # quality_unigram_likelihood idiom per snapshot half (r14 gate;
    # predicted on the queue's registration-day checklist)
    "text_vocab_drift",
    # composes quality_unigram_likelihood behind a lazy pin: the pinned
    # subtree carries that query's documented 1-row (N, V) totals
    # aggregate (visible since the r10 pin-aware audit)
    "training_curriculum_deciles",
    # 1-row vocab-size aggregate then broadcast (r8)
    "quality_bigram_likelihood",
    # 1-row (D, N) corpus-totals aggregate then broadcast
    "retrieval_bm25_topk",
    # single-row final aggregate (the whole-table stats row)
    "table_analyze_stats",
    # 1-row (Σ⌊√n⌋, total) aggregate then broadcast
    "training_temperature_mixture",
    # 1-row (total, n_keys) aggregate then broadcast
    "stats_key_skew",
    # 1-row (N, V) corpus-totals aggregate then broadcast
    "curation_lm_report",
    # ordered window over the bounded month domain (years × 12 rows)
    "orders_seasonal_naive",
    # 1-row horizon max(ts) aggregate then broadcast
    "events_churn_training_set",
    # 1-row distinct-order-count aggregate then broadcast
    "basket_brand_affinity",
    # rank windows over the two ≤50-row lane results (post
    # orderBy+limit TakeOrdered — report-sized frames by construction)
    "retrieval_hybrid_rrf",
    # 1-row min/max date-bounds aggregate then broadcast (r8)
    "events_gapfill_locf",
    # two 1-row corpus-totals aggregates (N_uni, N_bg) then broadcast
    # (r8 — the quality_unigram_likelihood idiom)
    "text_collocations_pmi",
    # 1-row weight-total aggregate + cumulative window over the
    # vocab-bounded weight table (≤ |V| rows at any corpus size — the
    # stats_ks_drift bounded-global-window argument) (r8)
    "training_negative_sampling",
    # 1-row corpus-token-total aggregate then broadcast; the per-k
    # final agg is 3 rows by construction (r9)
    "inference_prefix_cache_hits",
    # 1-row training-token-total N aggregate then broadcast — the
    # quality_bigram_likelihood idiom (r10)
    "quality_trigram_backoff",
    # r11 queue registrations: single-row FINAL aggregates after
    # map-side partials (sketch monoids / eval totals):
    "sketch_bloom_membership",
    "dedup_lsh_eval",
    # cumulative window over the 10-row decile aggregate —
    # report-sized by construction (the stats_ks_drift argument):
    "corpus_ngram_coverage_curve",
    # r12 queue registration: three 1-row per-peeling-round stats
    # aggregates (count distinct nodes / edges after each round) —
    # report-sized by construction:
    "graph_kcore",
}

# Cartesian/nested-loop allowed: explicitly-named exact baselines only.
# embedding_neardup and dedup_simhash_pairs moved to blocked equi-join
# defaults in round 2 and are no longer allowed a cartesian plan.
CROSS_JOIN_ALLOW = {
    "ann_topk_bruteforce",
    # purity eval scores the EXACT top-k (ground truth by design) —
    # same documented brute-force baseline, 10-row broadcast side:
    "ann_label_purity",
    # fuzzy_name_match removed round 3: now a length-banded hash
    # equi-join with Levenshtein residual (queries_misc.py).
    "bench_embedding_neardup_numpy",
    # 1-row scalar-subquery broadcasts (constant-size build side — the
    # nested-loop degenerates to a per-row constant append, scale-safe):
    "tpch_q11_important",
    "tpch_q22_dormant",
    "lakehouse_zorder",  # broadcast of the 1-row min/max extremes agg
    "quality_unigram_likelihood",  # broadcast of the 1-row (N, V) totals
    # broadcast of the two 1-row half-corpus totals (r14 gate)
    "text_vocab_drift",
    # composes quality_unigram_likelihood behind a lazy pin — inherits
    # its documented 1-row totals broadcast (r10 pin-aware audit)
    "training_curriculum_deciles",
    "quality_bigram_likelihood",   # broadcast of the 1-row vocab-size row
    "retrieval_bm25_topk",  # broadcast of the 1-row (D, N) totals
    "training_temperature_mixture",  # broadcast of the 1-row quota totals
    # ADC's documented shape: 10-row query-lookup broadcast over the
    # code table — the scan is codes-only by design; IVF cells prune
    # it at scale (operators/pq.py)
    "ann_topk_pq_adc",
    "stats_key_skew",  # broadcast of the 1-row (total, n_keys) agg
    "curation_lm_report",  # broadcast of the 1-row (N, V) totals
    "events_churn_training_set",  # broadcast of the 1-row horizon max(ts)
    "basket_brand_affinity",  # broadcast of the 1-row order-count agg
    # label-dim × label-dim centroid pairs (≤ |labels|² rows — a
    # domain-bounded triangle join at any corpus size)
    "embedding_label_separation",
    # day-dim × user-day range join: build side is the bounded day
    # dimension (~365 rows/year), broadcast by design
    "events_dau_wau_stickiness",
    # 1-row broadcasts: the corpus-totals row (BM25 lane) and the
    # single query-embedding row (semantic lane)
    "retrieval_hybrid_rrf",
    # broadcast of the 1-row min/max date bounds feeding the per-user
    # spine explode (users x days rows generated map-side)
    "events_gapfill_locf",
    # broadcasts of the two 1-row corpus totals (N_uni, N_bg) — the
    # quality_unigram_likelihood idiom (r8)
    "text_collocations_pmi",
    # broadcast of the 1-row weight-total aggregate (r8)
    "training_negative_sampling",
    # broadcast of the 1-row corpus-token-total onto the 3-row per-k
    # aggregate (r9)
    "inference_prefix_cache_hits",
    # broadcast of the 1-row training-token-total N feeding the
    # unigram backoff arm — the quality_bigram_likelihood idiom (r10)
    "quality_trigram_backoff",
    # idioms verified against the executed plans at sf0.001:
    # fixed query-panel broadcast over the corpus — the
    # ann_topk_bruteforce shape:
    "ann_recall_eval",
    "retrieval_margin_bitext",
    # event-type-dim × event-type-dim theta join (≤ |types|² rows):
    "sketch_kmv_set_ops",
    # 1-row scalar-aggregate broadcasts — the tpch_q11 idiom:
    "dedup_lsh_eval",
    "corpus_ngram_coverage_curve",
}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def build_recording_pins(build, *args):
    """Return ``build(*args)`` and the executed plan of every frame it
    pinned, in pin order.

    A pin replaces its lineage with a LogicalRDD, so posture violations
    INSIDE the pinned subtree (which executes in production!) would
    otherwise never be audited — the same hide-behind-the-pin hole the
    r10 scan-audit fix closed (audit_scans.production_scan_counts).
    """
    plans: list[str] = []
    with observe_pins(lambda df: plans.append(_executed_plan(df))):
        return build(*args), plans


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entrymod
    from etl_his_spark.session import get_spark

    spark = get_spark("audit_plans", cpus=8)
    violations: list[str] = []

    for name, fn in entrymod.queries().items():
        try:
            df, pin_plans = build_recording_pins(fn, spark, sf_dir)
            plan = _executed_plan(df)
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: plan build failed: {e}")
            continue
        plan = "\n".join([plan, *pin_plans])
        if "Exchange SinglePartition" in plan and name not in SINGLE_PARTITION_ALLOW:
            violations.append(f"{name}: Exchange SinglePartition (serial stage)")
        if (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ) and name not in CROSS_JOIN_ALLOW:
            violations.append(f"{name}: cartesian/nested-loop join present")

    # The HIS pipeline's 4 outputs are not registry queries (they are
    # produced by run_pipeline), so audit them explicitly with the same
    # scale-posture rules. Each output's lineage holds exactly one
    # dim-scale SinglePartition window (surrogate.dense_ids_small):
    # paciente and prestacion mint their own ids, turno inherits
    # paciente's through its FK join, and the bridge inherits
    # prestacion's through resolve_fk. Fact ids are minted
    # exchange-parallel (surrogate.dense_ids), so a second serial stage
    # in any output is a regression.
    from etl_his_spark.plans.his_pipeline import run_pipeline
    from etl_his_spark.sources.his_synth import his_tables_from_testdata

    his_max_single = 1
    try:
        outputs, pin_plans = build_recording_pins(
            run_pipeline, his_tables_from_testdata(spark, sf_dir)
        )
        # Pinned subtrees are shared across outputs — audit them once.
        # SinglePartition inside the pins is the documented dim-scale
        # dense-id minting (dense_ids_small); cartesians are not.
        pinned = "\n".join(pin_plans)
        if "CartesianProduct" in pinned or "BroadcastNestedLoopJoin" in pinned:
            violations.append(
                "his_pipeline.pinned_subtrees: cartesian/nested-loop join"
            )
        for name, df in outputs.items():
            plan = _executed_plan(df)
            qname = f"his_pipeline.{name}"
            n_single = plan.count("Exchange SinglePartition")
            if n_single > his_max_single:
                violations.append(
                    f"{qname}: {n_single} Exchange SinglePartition"
                    f" (at most {his_max_single})"
                )
            if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
                violations.append(f"{qname}: cartesian/nested-loop join present")
    except Exception as e:  # noqa: BLE001
        violations.append(f"his_pipeline: plan build failed: {e}")

    if violations:
        print(f"{len(violations)} plan-posture violations:")
        for v in violations:
            print("  -", v)
        return 1
    print(
        f"plan audit clean: {len(entrymod.queries())} queries "
        f"+ his_pipeline outputs"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
