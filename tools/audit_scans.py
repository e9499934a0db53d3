"""Scan-amplification audit: flag queries that scan ONE table many
times.

The round-8 sweep (SCALE.md "Measured scale exponents, r8 additions",
closing note) found multi-branch plans silently re-running corpus-sized
explodes because a shared frame fed several consumers — at 100 TB each
extra same-table scan is a full corpus pass. The fix, where it applies,
is a lazy localCheckpoint on the BOUNDED shared dimension (vocab/
bigram/doc-dim count frames), never on corpus-sized streams.

This tool machine-checks the sweep's outcome the way audit_plans.py
checks plan posture: for every registered query, count physical parquet
scans PER TABLE in the executed plan and fail on any query scanning one
table more than THRESHOLD times unless it is allowlisted with a reason.
Multi-TABLE joins (TPC-H shapes) never trip this — only same-table
amplification does.

Exit 1 on new offenders. Usage: python tools/audit_scans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_his_spark.operators.pin import observe_pins  # noqa: E402

THRESHOLD = 4  # scans of the SAME table; >= this needs an allowlist row

# name -> (table, max allowed scans, reason)
ALLOW = {
    # Reads several published snapshots of the same logical table by
    # design (base + delta + refreshed aggregate verification).
    "incremental_agg_refresh": ("orders", 7, "multi-snapshot lakehouse read"),
    # UNION/INTERSECT/EXCEPT operator demo: each set operand is its own
    # filtered scan by construction.
    "set_operations": ("orders", 6, "set operands are separate scans"),
    # MERGE reads the target for match, anti, and verification passes —
    # the lakehouse upsert shape.
    "merge_upsert_orders": ("orders", 5, "merge target re-reads"),
    # Post-sweep floor: source dim, token explode, bigram explode, and
    # the fused doc/char census each need one documents pass; the
    # bounded count dimensions are checkpointed, and under the r10
    # production-count semantics each pin's BUILD pass is now counted
    # too (5 logical lanes + 2 pin builds).
    "curation_lm_report": ("documents", 7, "sub-pipelines + pin builds"),
    # Ordered-funnel design: one type-filtered, pushdown-narrowed
    # events scan per step (view/click/purchase) + the user dim; the
    # step aggregates are pinned so no scan repeats per consumer.
    "events_funnel_ordered": ("events", 4, "per-step filtered scans"),
    # Full dedup deliverable compositions: LSH pair stage, closure
    # init (every doc is a label seed), and the keep/size //
    # quality-keeper // report lanes each take one column-pruned
    # documents pass.
    "corpus_dedup_collapse": ("documents", 5, "LSH + closure + keep lanes"),
    "corpus_dedup_keeper_quality": (
        "documents", 6, "collapse lanes + quality scorer"),
    "corpus_dedup_report": ("documents", 4, "pipeline stage census"),
    # Hybrid retrieval: BM25 corpus-stats lanes + the phrase/semantic
    # lane each read documents once.
    "retrieval_hybrid_rrf": ("documents", 4, "BM25 + semantic lanes"),
    # Grouped median-of-medians needs value + two median-join branches;
    # events scans are single-column pruned.
    "stats_outliers_mad": ("events", 4, "MAD needs median re-joins"),
    # Narrow doc_id-only projections joined twice against the LSH
    # candidates — rescan is cheaper than materializing (SCALE.md
    # stopping rule).
    "split_leakage_check": ("documents", 4, "pruned split projections"),
    # Shingle pipeline feeds source pairs from both sides.
    "source_overlap_matrix": ("documents", 4, "pair sides of one index"),
    # Sign-LSH bands build + both pair sides read the embeddings.
    "embedding_neardup": ("embeddings", 4, "band build + two pair sides"),
    # Same banded machinery as embedding_neardup (band build + two
    # pair sides); the lang filter adds documents scans, not these.
    "dedup_translated_semantic": ("embeddings", 4, "banded pair sides"),
    # Three independent gram-order emissions (c1/c2/c3) + the held-out
    # instance explode each need one documents pass; the vocab-bounded
    # count dims are pinned (lazy localCheckpoint), which already cut
    # the pre-pin 7 scans to this floor.
    "quality_trigram_backoff": ("documents", 4, "gram orders + held-out"),
    # key↔name fan-back: the dist-0 self-join and the dist≥1 lane each
    # read the 2-column pruned (p_partkey, p_name) scan twice; the
    # blocking/Levenshtein machinery runs on the PINNED distinct-name
    # dim (one scan). Scans are column-pruned key-mapping reads, not
    # text reprocessing.
    "fuzzy_name_match": ("part", 5, "pair-lane key fan-back"),
    # Exact top-k ground truth (documented brute-force baseline) plus
    # the clustered lane read the same vectors.
    "ann_label_purity": ("embeddings", 4, "exact baseline + eval lane"),
    # r11 queue registrations (production scan counts measured under
    # the r10 final-plan + pin-build semantics at sf0.001; the other
    # six queue gates count ≤ 3):
    # brute-force truth + IVF index lanes
    "ann_recall_eval": ("embeddings", 5, "truth + IVF index lanes"),
    # cells + pinned-centroid build + two pair sides (which share one
    # exchange at runtime)
    "curation_diversity_prune": ("embeddings", 4, "cells + pair sides"),
    # the dots table's fwd/bwd/argmax traversals
    "retrieval_margin_bitext": ("embeddings", 4, "fwd/bwd/argmax lanes"),
    # exact-truth lanes incl. the pinned shingle build + LSH candidates
    "dedup_lsh_eval": ("documents", 5, "exact truth + LSH lanes"),
    # r12 queue registration (measured at sf0.001 on registration
    # day): old-snapshot fp + new-batch fp + residual re-read + the
    # two shingle-pin builds each take one column-pruned documents
    # pass; retrieval_mrr_eval measured 1 (single eager shingle pin).
    "dedup_snapshot_incremental": ("documents", 5, "snapshot + pin builds"),
}


# NOTE the space tolerance: this Spark prints
# "Location: InMemoryFileIndex [file:/...]" (index class, then a
# SPACE, then the bracketed path list). The r8 regex required
# non-space between "Location:" and the path, matched NOTHING here,
# and silently made the whole audit vacuous — "clean" while counting
# zero scans (caught in r10 when the same regex returned {} for a
# query known to scan documents). `.*?` stays within the line (no
# DOTALL), so each Location line yields its first path's table name.
SCAN_RE = r"Location: .*?/(\w+)\.parquet"


def _explain_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def production_scan_counts(fn, spark, sf_dir: str) -> Counter:
    """Per-table production scan counts for one (spark, sf_dir) query
    fn: the final plan's parquet scans PLUS each pin's build subtree
    counted ONCE.

    The r8 approach no-op'd localCheckpoint so pinned subtrees stayed
    visible — but that counts a pinned frame once per CONSUMER
    (dedup_components' pair build showed 89 "scans" that production
    runs exactly once). ``observe_pins`` instead records each pinned
    frame's plan at pin time (one read in production) and the real
    pin proceeds. A pin that bypasses ``operators.pin.pin`` would hide
    its subtree (caught in r10: a query whose whole lineage sat behind
    one unobserved pin showed ZERO scans); tests/test_cache_hygiene.py
    fails on any such pin in the engine.
    """
    pin_plans: list[str] = []
    with observe_pins(lambda df: pin_plans.append(_explain_text(df))):
        df = fn(spark, sf_dir)
    tables = re.findall(SCAN_RE, _explain_text(df))
    for plan in pin_plans:
        tables += re.findall(SCAN_RE, plan)
    return Counter(tables)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from etl_his_spark.registry import QUERIES
    from etl_his_spark.session import get_spark

    spark = get_spark("audit_scans", cpus=8)
    violations = []
    checked = 0
    for name, fn in QUERIES.items():
        try:
            counts = production_scan_counts(fn, spark, sf_dir)
        except Exception as e:  # pragma: no cover - surfaced as violation
            violations.append(
                f"{name}: explain failed ({type(e).__name__}: {str(e)[:200]})"
            )
            continue
        checked += 1
        for table, n in counts.items():
            if n < THRESHOLD:
                continue
            allow = ALLOW.get(name)
            if allow and allow[0] == table and n <= allow[1]:
                continue
            violations.append(
                f"{name}: scans {table} {n}x (threshold {THRESHOLD}, "
                f"allowlisted max "
                f"{allow[1] if allow and allow[0] == table else 'none'})"
            )
    if violations:
        print(f"{len(violations)} scan-amplification violations:")
        for v in violations:
            print(f"  - {v}")
        return 1
    print(f"scan audit clean: {checked} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
