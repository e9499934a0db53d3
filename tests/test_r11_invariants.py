"""Property/invariant tests for seven sketch, corpus, graph and text queries.

``test_oracles`` proves cross-engine equality; these pin the
ALGORITHMIC contracts on adversarial synthetic fixtures the sf
fixtures don't exercise (the r9 CDC-locality / ExactSubstr-conservation
discipline): estimator accuracy, the Bloom no-false-negative
guarantee, the rollup monoid identity, LPA determinism under input
reshuffling, the prune's keep-priority, Zipf slope on exact-Zipf data,
and coverage-curve saturation on a duplicated corpus half.
"""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_his_spark.plans.queries_curation import curation_diversity_prune
from etl_his_spark.plans.queries_dedup import corpus_ngram_coverage_curve
from etl_his_spark.plans.queries_events2 import (
    events_quantile_daily_rollup,
    sketch_bloom_membership,
    sketch_kmv_set_ops,
)
from etl_his_spark.plans.queries_graph import graph_label_propagation
from etl_his_spark.plans.queries_text2 import text_zipf_fit


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_kmv_estimates_track_truth(spark, tmp_path):
    """KMV union/intersection estimates stay near truth: two event
    types with 300 visits each sharing exactly 150 (user, day) visits.
    With k=64 the standard error is ~1/sqrt(62) ≈ 13%; assert 3σ."""
    d0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # Type A: users 0..299 on day (u % 30); type B: users 150..449.
    for u in range(300):
        rows.append(
            (eid, d0 + datetime.timedelta(days=u % 30, hours=1), u, "a", 1.0)
        )
        eid += 1
    for u in range(150, 450):
        rows.append(
            (eid, d0 + datetime.timedelta(days=u % 30, hours=2), u, "b", 1.0)
        )
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    out = {
        (r["type_a"], r["type_b"]): r
        for r in (
            r.asDict()
            for r in sketch_kmv_set_ops(spark, str(tmp_path)).collect()
        )
    }
    r = out[("a", "b")]
    assert abs(r["est_union"] - 450) <= 0.40 * 450
    assert abs(r["est_intersection"] - 150) <= 0.40 * 450
    assert 0 <= r["kmv_jaccard_micro"] <= 1_000_000


def test_bloom_no_false_negatives_and_exact_truth(spark, tmp_path):
    """Every token actually shared must be CLAIMED by the filter (the
    Bloom guarantee), and the truth-side counts are exact."""
    rows = []
    # A side (src0..src9): vocab a000..a199 + shared s000..s049.
    for i in range(10):
        toks = [f"a{j:03d}" for j in range(i * 20, i * 20 + 20)]
        toks += [f"s{j:03d}" for j in range(i * 5, i * 5 + 5)]
        rows.append((i, " ".join(toks), f"src{i}"))
    # B side (src10..): vocab b000..b099 + the same shared s000..s049.
    for i in range(10):
        toks = [f"b{j:03d}" for j in range(i * 10, i * 10 + 10)]
        toks += [f"s{j:03d}" for j in range(i * 5, i * 5 + 5)]
        rows.append((10 + i, " ".join(toks), f"src{10 + i}"))
    _write_docs(spark, str(tmp_path), rows)
    r = sketch_bloom_membership(spark, str(tmp_path)).collect()[0].asDict()
    assert r["n_probed"] == 150            # 100 b-tokens + 50 shared
    assert r["n_actual"] == 50             # the shared vocabulary
    assert r["n_claimed"] >= r["n_actual"]  # no false negatives, ever
    assert r["n_false_pos"] == r["n_claimed"] - r["n_actual"]


def test_quantile_rollup_merge_equals_recompute(spark, tmp_path):
    """The daily-partial merge must equal a single-pass recompute of
    the same binned definition (monoid identity), on a fixture whose
    values cross days with different distributions."""
    d0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    vals = []
    for day in range(7):
        for j in range(100):
            v = (day * 37 + j * 7) % 400 + 0.25  # day-varying spread
            vals.append(v)
            rows.append(
                (eid, d0 + datetime.timedelta(days=day, minutes=j), j,
                 "x", float(v))
            )
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    r = (
        events_quantile_daily_rollup(spark, str(tmp_path))
        .collect()[0]
        .asDict()
    )
    # Single-pass reference: same 0.5-wide bins, ceil(p*N/100) rule.
    bins = sorted(min(1023, int(v * 2)) for v in vals)
    n = len(bins)

    def ref(p):
        need = -(-p * n // 100)  # ceil
        return bins[need - 1] * 500000

    assert r["n_events"] == n
    assert r["q50_micro"] == ref(50)
    assert r["q95_micro"] == ref(95)
    assert r["q99_micro"] == ref(99)


def _write_graph(spark, path, pairs):
    """pairs: (orderkey, custkey, suppkey) triples — one lineitem per
    order, so edge weight = multiplicity of the (supp, cust) pair."""
    spark.createDataFrame(
        [(o, s) for o, _, s in pairs], "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    spark.createDataFrame(
        [(o, c) for o, c, _ in pairs], "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(f"{path}/orders.parquet")


def test_lpa_deterministic_and_replica_scaling(spark, tmp_path):
    """LPA output is a pure function of the graph (no partition-order
    dependence), and a disjoint replica doubles every community."""
    # Two clear communities: supplier 1 trades heavily with customers
    # 1-3, supplier 2 with customers 4-6; one weak cross edge.
    pairs = []
    o = 0
    for c in (1, 2, 3):
        for _ in range(3):
            pairs.append((o, c, 1)); o += 1
    for c in (4, 5, 6):
        for _ in range(3):
            pairs.append((o, c, 2)); o += 1
    pairs.append((o, 4, 1)); o += 1  # weak cross edge
    _write_graph(spark, str(tmp_path / "g1"), pairs)
    out1 = sorted(
        (r["community"], r["n_members"])
        for r in graph_label_propagation(spark, str(tmp_path / "g1")).collect()
    )
    out1b = sorted(
        (r["community"], r["n_members"])
        for r in graph_label_propagation(spark, str(tmp_path / "g1")).collect()
    )
    assert out1 == out1b and len(out1) >= 1
    # Disjoint replica: every key offset by 1000.
    rep = pairs + [(ok + 1000, c + 1000, s + 1000) for ok, c, s in pairs]
    _write_graph(spark, str(tmp_path / "g2"), rep)
    sizes1 = sorted(n for _, n in out1)
    sizes2 = sorted(
        r["n_members"]
        for r in graph_label_propagation(spark, str(tmp_path / "g2")).collect()
    )
    assert sizes2 == sorted(sizes1 + sizes1)


def test_diversity_prune_keeps_cell_argmax(spark, sf_dir):
    """In every cell the highest-priority vector (max spread, then min
    vec_id) can never be dropped — it has no dominator by
    construction — and kept/dropped partition the corpus."""
    rows = [
        r.asDict()
        for r in curation_diversity_prune(spark, sf_dir).collect()
    ]
    by_cell: dict[int, list[dict]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell_rows in by_cell.values():
        best = max(cell_rows, key=lambda r: (r["spread"], -r["vec_id"]))
        assert best["kept"] == 1
    assert {r["kept"] for r in rows} <= {0, 1}


def test_zipf_slope_near_minus_one_on_exact_zipf(spark, tmp_path):
    """Token r appears floor(1200/r) times (exact Zipf, s=1): the
    integer log2-bucket OLS slope must land near -1e6 micro."""
    toks = []
    for r in range(1, 101):
        toks += [f"t{r:03d}"] * (1200 // r)
    # Spread over a few docs of one source.
    rows = [
        (i, " ".join(toks[i::7]), "srczipf") for i in range(7)
    ]
    _write_docs(spark, str(tmp_path), rows)
    out = text_zipf_fit(spark, str(tmp_path)).collect()
    slope = {r["source"]: r["zipf_slope_micro"] for r in out}["srczipf"]
    assert -1_400_000 <= slope <= -600_000


def test_coverage_curve_saturates_on_duplicated_half(spark, tmp_path):
    """Docs 50..99 repeat docs 0..49 verbatim: deciles 6-10 introduce
    zero new trigrams, so the curve is flat after decile 5."""
    base = [
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}" for i in range(50)
    ]
    rows = [(i, base[i], "src0") for i in range(50)]
    rows += [(50 + i, base[i], "src1") for i in range(50)]
    _write_docs(spark, str(tmp_path), rows)
    out = {
        r["decile"]: r.asDict()
        for r in corpus_ngram_coverage_curve(spark, str(tmp_path)).collect()
    }
    assert max(out) == 5  # nothing new after the first half
    assert out[5]["cum_trigrams"] == 50 * 3  # 3 trigrams per 5-token doc
