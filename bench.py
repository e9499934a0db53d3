"""Benchmark harness — the driver runs this per round at sf0.1.

Runs the headline queries on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), forcing full
execution with a noop write (JVM-side, no driver collect), and prints
ONE JSON line with the totals, the slowest queries by name, and every
per-query min (array form). The line is kept under the driver's
2000-char stdout tail so it stays machine-parseable; the FULL payload
(every query keyed by name + every raw run) is written to
BENCH_LOCAL.json beside this script.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The pre-round-5 headline list — kept as a stable subtotal so
# round-over-round comparisons (BENCH_r04 and earlier) remain
# meaningful while the full list keeps growing.
CORE = [
    "flagship_fact",
    "join_inner_broadcast",
    "join_self_roles",
    "unpivot_measures",
    "dedup_first_per_key",
    "agg_pricing_summary",
    "topk_customers",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_simhash",
    "embedding_neardup",
    "ann_topk_bruteforce",
    "events_sessionize",
    "events_asof_join",
    "events_window_agg",
    "curation_contamination",
    "curation_repetition",
    "training_pack_sequences",
    "bench_embedding_neardup_numpy",
]

HEADLINE = [
    "flagship_fact",
    "join_inner_broadcast",
    "join_self_roles",
    "unpivot_measures",
    "dedup_first_per_key",
    "agg_pricing_summary",
    "topk_customers",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_simhash",
    "embedding_neardup",
    "ann_topk_bruteforce",
    "events_sessionize",
    "events_asof_join",
    "events_window_agg",
    # round-2 additions: curation + training layout
    "curation_contamination",
    "curation_repetition",
    "training_pack_sequences",
    # round-5 additions: the heaviest r2+ operators were invisible to
    # BENCH (regressions there went unmeasured — r4 verdict item 5),
    # plus the new capped-LSH + cluster-collapse deliverables. The
    # total is NOT comparable to BENCH_r04 and earlier; compare
    # per-query or over the pre-r5 subset.
    "dedup_components",
    "training_vocab_build",
    "training_tokenize_docs",
    "corpus_pipeline",
    "corpus_dedup_collapse",
    "dedup_lsh_capped",
    "corpus_dedup_collapse_guarded",
    "dedup_lsh_incremental",
    "multimodal_y4m_frames",
    "doc_winnow_fingerprints",
    # round-6 additions: the heaviest new operators (bucketed-layout
    # join, streaming gate, source-overlap audit, chunking, k-means
    # step) — on the r4 lesson that ops outside BENCH regress
    # unmeasured. Totals comparable via core_queries_total only.
    "bucketed_join_colocated",
    "streaming_attribution_agree",
    "source_overlap_matrix",
    "doc_chunk_overlap",
    "embedding_kmeans_assign",
    "embedding_gram_matrix",
    "contrastive_triplets",
    # round-6 second wave: LM-statistics quality scores, BPE merge
    # induction, BM25 retrieval, containment dedup, fixed-point
    # PageRank, IVF ANN, streaming dedup — same no-unmeasured-ops
    # rationale.
    "quality_unigram_likelihood",
    "quality_novel_ngrams",
    "training_bpe_merges",
    "retrieval_bm25_topk",
    "dedup_containment_pairs",
    "graph_pagerank_trade",
    "ann_topk_ivf",
    "streaming_dedup_agree",
    # round-6 third wave: leakage audit + per-source LM report (the
    # two heaviest compositions), PQ ADC, stateful streaming gate.
    "split_leakage_check",
    "curation_lm_report",
    "ann_topk_pq_adc",
    "streaming_stateful_totals_agree",
    "graph_triangle_counts",
    "customer_rfm_segments",
    "streaming_window_counts_agree",
    # round-7 additions (the round's only five new queries): BPE
    # corpus encode, cluster-bucketed semantic dedup, perceptual-hash
    # image dedup, and the stream-stream join + stream-static enrich
    # gates.
    "training_bpe_encode",
    "dedup_semantic_cells",
    "multimodal_image_dedup",
    "streaming_join_agree",
    "streaming_enrich_agree",
    # round-8 first wave: hybrid RRF retrieval, bigram
    # conditional-LM score, event-rate anomaly.
    "retrieval_hybrid_rrf",
    "quality_bigram_likelihood",
    "events_rate_anomaly",
    # round-8 second wave: C4-style line dedup with reassembly,
    # time-spine LOCF gap fill, interval-union coverage.
    "corpus_line_dedup",
    "events_gapfill_locf",
    "events_interval_coverage",
    # round-8 third wave: PMI collocation mining, positional-index
    # phrase match, skip-gram context pairs, negative-sampling table.
    "text_collocations_pmi",
    "retrieval_phrase_match",
    "training_skipgram_pairs",
    "training_negative_sampling",
    # round-9 additions: lexical-diversity scoring, prefix-cache
    # reuse, blocklist filter, mixture upsampling, span-corruption
    # spec, translated-dup detection, PRF query expansion.
    "text_lexical_diversity",
    "inference_prefix_cache_hits",
    "curation_blocklist_filter",
    "training_upsample_repeat",
    "training_span_mask_spec",
    "dedup_translated_semantic",
    "retrieval_prf_expansion",
    # round-9 additions (second batch): count-min-sketch heavy
    # hitters, content-defined chunk-level dedup.
    "sketch_cms_heavy_hitters",
    "corpus_chunk_dedup",
    "dedup_exact_substring_spans",
    # round-10 registrations (written and tri-scale-proven in r9):
    # ExactSubstr cut pass, HLL registers + daily-rollup + streaming
    # lanes, weighted Jaccard/MinHash/LSH, trigram stupid-backoff,
    # CMS rollup twin, cross-source hard negatives.
    "corpus_exactsubstr_cut",
    "sketch_hll_user_registers",
    "dedup_weighted_jaccard",
    "dedup_weighted_minhash_sig",
    "streaming_hll_users_agree",
    "events_hll_daily_rollup",
    "dedup_weighted_lsh_candidates",
    "quality_trigram_backoff",
    "events_cms_daily_rollup",
    "retrieval_hard_negatives",
    # round-10: the slowest query in the registry (65.8s at sf0.1 in
    # SCALE_AUDIT r9) was invisible to the bench — r9 verdict item 4.
    "fuzzy_name_match",
    # round-10 addition: streaming CDC apply (foreachBatch MERGE into
    # the manifest lakehouse — r9 verdict item 6).
    "streaming_cdc_apply_agree",
    # round-11 registrations (written and tri-scale-proven in r10):
    # KMV set-op sketches, mergeable quantile rollup, ANN recall +
    # LSH precision/recall evals, margin bitext mining, SemDeDup
    # diversity prune, Heaps coverage curve, Zipf fit, label
    # propagation, Bloom membership.
    "sketch_kmv_set_ops",
    "events_quantile_daily_rollup",
    "ann_recall_eval",
    "dedup_lsh_eval",
    "retrieval_margin_bitext",
    "curation_diversity_prune",
    "corpus_ngram_coverage_curve",
    "text_zipf_fit",
    "graph_label_propagation",
    "sketch_bloom_membership",
    # round-12 registrations (written and tri-scale-proven in r11):
    # bottom-k quantile sketch + its streaming monoid twin, integer
    # Flesch readability, token-Gini concentration, session path
    # mining, k-core peeling, compaction planning, kNN graph,
    # incremental snapshot dedup, MRR retrieval eval.
    "sketch_bottomk_quantiles",
    "text_readability_scores",
    "corpus_token_gini",
    "events_path_mining",
    "graph_kcore",
    "lakehouse_compaction_plan",
    "ann_knn_graph",
    "dedup_snapshot_incremental",
    "retrieval_mrr_eval",
    "streaming_bottomk_agree",
    # round-13 registrations (written and tri-scale-proven in r12):
    # two-stage reranker eval, incremental ANN index maintenance, RIFF
    # chunk walk, contamination attribution, CUSUM changepoint,
    # bottom-k neighbor-Jaccard link prediction, RAKE keywords,
    # tokenizer fertility, matryoshka prefix-recall eval, streaming
    # file-manifest lane.
    "retrieval_rerank_eval",
    "ann_index_maintenance",
    "multimodal_riff_walk",
    "curation_contamination_attribution",
    "events_cusum_changepoint",
    "graph_jaccard_neighbors",
    "text_keyword_rake",
    "training_tokenizer_fertility",
    "embedding_matryoshka_eval",
    "streaming_manifest_agree",
    # round-14 registrations (written and tri-scale-proven in r12):
    # versioned-manifest vacuum planning, Theil-Sen robust trend,
    # binary-quantization recall eval, A/B sample-ratio mismatch, PNG
    # chunk walk with real CRC validation, conversion-latency buckets,
    # file-skipping overlap stats, vocabulary drift, burst-rate bot
    # detection, encoding-anomaly QA.
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
]


def _quiesce(spark) -> None:
    """Collect garbage and let Spark's async cleanup drain BETWEEN
    queries, so it does not race with the next timed run.

    Measured (r6, sf0.1, 32 cores idle): identical consecutive runs of
    dedup_ngram_jaccard inside one warm session varied 2.1-4.3 s —
    ±2× on an UNCHANGED plan — because freeing the previous query's
    state (localCheckpoint blocks, shuffle files, broadcasts) happens
    asynchronously in ContextCleaner AFTER the owning Python objects
    are GC'd, i.e. during whatever runs next. An explicit GC plus a
    short settle window moves that work between measurements. Residual
    noise still exists (see SCALE.md "bench noise floor"); min-of-3
    absorbs most of it.
    """
    import gc
    import time as _time

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    _time.sleep(0.7)


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def ambient_probe() -> float:
    """Seconds for a fixed single-thread CPU workload (pure-Python
    xorshift loop — no numpy/BLAS thread effects, no I/O): a
    box-throughput thermometer recorded beside every bench payload.

    Motivation (r12): cross-round drift investigations repeatedly hit
    readings 1.5-5× the committed twin with the CODE untouched and
    in-container `ps` IDLE — hypervisor-level neighbor load is
    invisible from inside the container, so the only way to read a
    number fairly next round is to know how fast the box itself was
    when it was taken. Every committed artifact records its own probe
    value; cross-round comparisons should divide out the probe ratio
    (a probe reading 2× another artifact's means wall-times that day
    carry roughly the same factor) or be made as ratios within one
    sweep."""
    t0 = time.time()
    x = 0x9E3779B97F4A7C15
    for _ in range(2_000_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    return round(time.time() - t0, 3)


def ambient_io_probe() -> float:
    """Seconds for a fixed write+fsync+read filesystem workload (16
    fsync'd 512 KiB blocks written, read back, unlinked): the I/O
    complement to the CPU probe above (r12 verdict item 4).

    Motivation: the CPU probe read a QUIET 0.494 while the r12
    driver's his_pipeline_publish ran 26.1 s vs 14.7 s on a quiet box
    — publish is fs-bound, and a pure-Python xorshift loop is blind to
    I/O contention (neighbor writers, dirty-page pressure, throttled
    block device). Recording both probes beside every artifact lets a
    future reader separate CPU-regime from I/O-regime inflation:
    fs-bound numbers (publish, parquet-heavy scans) read against THIS
    probe, compute-bound ones against the CPU probe."""
    import tempfile

    block = os.urandom(512 * 1024)
    t0 = time.time()
    fd, path = tempfile.mkstemp(prefix="bench_io_probe_")
    try:
        with os.fdopen(fd, "wb") as f:
            for _ in range(16):
                f.write(block)
                f.flush()
                os.fsync(f.fileno())
        with open(path, "rb") as f:
            while f.read(1 << 20):
                pass
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass
    return round(time.time() - t0, 3)


def _contended(runs: list[float], ref: float | None) -> bool:
    """True when a measurement window looks contention-shaped:
    a one-off straggler (any run > 3× the window's own median) or a
    whole inflated window (min > 2× the committed fresh-JVM isolated
    twin). Answered by MORE real measurements, never edited values.

    Callers pass the LATEST window, not the full run history (ADVICE
    r11): a straggler in the original runs must not keep flagging a
    query whose fresh-session retries are clean. On a 2-run retry
    window the straggler arm is inert by construction (median = max),
    which is correct — one clean run means the min is trustworthy;
    only min > 2×ref (the whole window inflated) keeps the flag."""
    if max(runs) > 3.0 * _median(runs):
        return True
    return ref is not None and min(runs) > 2.0 * ref


def _isolated_reference() -> dict[str, float]:
    """Per-query times from the NEWEST committed BENCH_ISOLATED_r*.json.

    Used ONLY as a retry trigger (r10 verdict item 4): when a query's
    in-sequence min lands > 2× its fresh-JVM isolated twin, the cause
    is almost always box contention (the r10 driver artifact carried
    43.9 s / 99.4 s one-off stragglers on ~3 s queries), so bench
    re-measures under a fresh session instead of committing the noise.
    Reference values never replace measurements — every reported
    number is a real run from THIS invocation.
    """
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    files = glob.glob(os.path.join(here, "BENCH_ISOLATED_r*.json"))
    rounds = []
    for f in files:
        m = re.search(r"_r(\d+)(?:_|\.json)", os.path.basename(f))
        if m:
            rounds.append((int(m.group(1)), f))
    for _, f in sorted(rounds, reverse=True):
        try:
            with open(f) as fh:
                q = json.load(fh).get("queries", {})
            ref = {k: v for k, v in q.items() if isinstance(v, (int, float))}
            if ref:
                return ref
        except (OSError, ValueError):
            continue
    return {}


def run_isolated(names: list[str]) -> int:
    """--isolate: one fresh interpreter+JVM per query (subprocess) —
    the controlled-environment mode for diagnosing session-lifetime
    effects. ~8 s JVM start per query, so diagnostic, not the default
    driver path.

    Same contention-retry discipline as the driver path (r11 verdict
    item 6): a reading > 2× the newest COMMITTED isolated twin is
    contention-shaped (neighbor load on the shared box — the r11 sweep
    measured a 1.69× median inflation on untouched plans during one
    such window), so the query is re-attempted in another fresh JVM
    (≤ 2 retries) and the min over attempts is reported. All attempts
    are kept in recheck_runs — retry-filtered, never edited."""
    import subprocess

    ref = _isolated_reference()

    def _one(name: str) -> float | None:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        line = (
            out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        )
        try:
            return json.loads(line)[name]
        except Exception:
            return None

    timings: dict[str, float | None] = {}
    recheck_runs: dict[str, list[float | None]] = {}
    payload = {
        "metric": "isolated_queries",
        "queries": timings,
        "recheck_runs": recheck_runs,
        "ambient_probe_sec": min(ambient_probe() for _ in range(3)),
        "ambient_io_probe_sec": min(ambient_io_probe() for _ in range(3)),
        "n_requested": len(names),
    }
    for name in names:
        attempts = [_one(name)]
        while (
            len(attempts) < 3
            and attempts[-1] is not None
            and ref.get(name) is not None
            and attempts[-1] > 2.0 * ref[name]
        ):
            attempts.append(_one(name))
        vals = [a for a in attempts if a is not None]
        timings[name] = min(vals) if vals else None
        if len(attempts) > 1:
            recheck_runs[name] = attempts
        # Persist INCREMENTALLY: a ~2-3 h fresh-JVM-per-query sweep
        # that only writes at the end loses everything to any
        # interruption (r12: a round boundary nearly discarded a
        # 50-minute partial sweep). Each completed query updates the
        # artifact; n_requested vs len(queries) shows partiality
        # honestly.
        _persist(payload, "BENCH_ISOLATED.json")
    print(json.dumps(payload))
    return 0


def compact_line(payload: dict, bench_names: list[str]) -> str:
    """The single stdout line, kept under the driver's 2000-char tail
    capture (r11 verdict item 5 — the full payload truncated from the
    front and parsed as null). Carries the totals, the 15 slowest
    queries by name, and ALL per-query mins as an array in the given
    names order (reconstructable from bench.py HEADLINE + the
    registry, cross-checkable against BENCH_LOCAL.json). If headline
    growth ever pushes the line over budget, the mins array is
    dropped first — the named slowest and totals always fit."""
    timings = payload["queries"]
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "core_queries_total": payload["core_queries_total"],
        "his_pipeline_publish": payload["his_pipeline_publish"],
        "queries": slowest,
        "queries_note": "15 slowest; full map in BENCH_LOCAL.json",
        "n_queries": len(timings),
        "mins_order": "HEADLINE-filtered names() order",
        "mins": [timings[n] for n in bench_names],
        "noise_suspect": payload["noise_suspect"],
        "sf": payload["sf"],
        "ambient_probe_sec": payload["ambient_probe_sec"],
        # pre-r13 payloads (and the committed r12 artifact the tail-budget
        # test replays) predate the I/O probe — absent reads as null
        "ambient_io_probe_sec": payload.get("ambient_io_probe_sec"),
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # keep the whole line inside the tail capture
        compact.pop("mins")
        compact["mins_order"] = "dropped (line over tail budget)"
        line = json.dumps(compact, separators=(",", ":"))
    return line


def _persist(payload: dict, fname: str) -> None:
    """Write the FULL bench JSON beside the script: the driver's tail
    capture truncates stdout, so per-run evidence (runs_all) survives
    only here (r6 verdict: perf claims must be auditable next round)."""
    try:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
        with open(path, "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from etl_his_spark.session import get_spark

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n.startswith("bench_") and n not in HEADLINE
    ]
    if "--isolate" in sys.argv:
        # optional trailing names restrict the sweep (full list default)
        subset = [a for a in sys.argv[sys.argv.index("--isolate") + 1:]
                  if not a.startswith("-")]
        if subset:
            # Fail loudly on typos: a silently-empty intersection would
            # run nothing and overwrite BENCH_ISOLATED.json with an
            # empty payload (r7 advisor).
            unknown = [a for a in subset if a not in names]
            if unknown:
                print(
                    f"error: --isolate names not in the benchmark set: "
                    f"{unknown}\nknown: {names}",
                    file=sys.stderr,
                )
                return 2
        # preserve the CALLER's order: an interruptible incremental
        # sweep wants its priority queries measured first
        return run_isolated(subset if subset else names)
    one = None
    if "--one" in sys.argv:
        one = sys.argv[sys.argv.index("--one") + 1]
        names = [names[0], one] if one != names[0] else [one]

    spark = get_spark("bench")

    # Warm the JVM + parquet footers once so timings measure the engine,
    # not first-touch initialization.
    qs[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Three executions per query, min reported; the SparkSession is
    # RESTARTED every few queries. Root cause of the r4/r5 cross-round
    # drift on untouched queries (diagnosed r6): per-query wall time
    # grows with the amount of work already run in the SparkContext —
    # a trivial unpivot measured 0.41 s in a fresh context, 1.3-1.7 s
    # after 17 queries, and 0.37-0.40 s again after an in-process
    # SparkContext restart (same JVM — so listener/status/cleaner
    # state, not heap or JIT). As the headline list grew 19→29→31,
    # every query drifted with its position. Bounding context age at
    # ≤ BENCH_RESTART_EVERY queries makes timings a function of the
    # QUERY again (~3 s restart cost, paid outside the timed window).
    # The first run after a restart also pays plan compile + parquet
    # footer reads — absorbed by min-of-3. _quiesce between queries
    # keeps the previous query's async cleanup out of the next timing.
    RUNS = int(os.environ.get("BENCH_RUNS", "3"))
    # 8 → 6 in r7: the r6 driver bench showed the LAST queries of each
    # restart block carrying a position penalty (dedup_minhash_lsh at
    # block position 7: 2.12 s in-sequence vs 1.29 s isolated, same
    # plan). A full A/B of the whole suite (BENCH_LOCAL_r7_insequence
    # vs the committed re6 run) moved block-tail queries 20-35% with no
    # query slower; restarts stay outside the timed windows. Same
    # context-age root cause as r6's 8-query bound, tightened.
    RESTART_EVERY = int(os.environ.get("BENCH_RESTART_EVERY", "6"))
    bench_names = names if one is None else [one]
    all_runs: dict[str, list[float]] = {n: [] for n in bench_names}
    # Straggler/contention retry (r10 verdict item 4): the r10 driver
    # artifact recorded one-off 43.9 s / 99.4 s runs on ~3 s queries
    # (neighbor compile jobs on the shared box). Two triggers, each
    # answered by MORE real measurements under a fresh session — never
    # by editing values: (a) a single run > 3× this query's own median
    # (runs_all must reflect the plan, not the neighbor), (b) the min
    # itself > 2× the committed fresh-JVM isolated twin (the whole
    # window was contended). Budget: 2 extra sessions per query.
    ISO_REF = _isolated_reference() if one is None else {}
    noise_suspect: list[str] = []
    for i, name in enumerate(bench_names):
        if i and i % RESTART_EVERY == 0:
            spark.stop()
            spark = get_spark("bench")
        _quiesce(spark)
        for _ in range(RUNS):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            all_runs[name].append(round(time.time() - t0, 3))
        # The contention decision looks at the LATEST measurement
        # window only (ADVICE r11): the contaminated original runs
        # stay in runs_all for transparency, but a straggler there
        # must not poison the verdict on clean fresh-session retries —
        # under the old all-runs predicate one 43.9 s outlier
        # guaranteed both retries burned AND a noise_suspect flag even
        # when every retry run was clean.
        window = list(all_runs[name])
        retries = 2
        while retries and _contended(window, ISO_REF.get(name)):
            retries -= 1
            spark.stop()
            spark = get_spark("bench")
            # Unrecorded warm run: a fresh session's first execution
            # pays plan compile + parquet footers, which the original
            # min-of-3 absorbed via the session-start warm query.
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            _quiesce(spark)
            window = []
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                window.append(round(time.time() - t0, 3))
            all_runs[name].extend(window)
        if _contended(window, ISO_REF.get(name)):
            noise_suspect.append(name)
    timings = {n: min(r) for n, r in all_runs.items()}
    if one is not None:
        print(json.dumps(timings))
        return 0

    # Full HIS reference-parity pipeline (extract → transform → atomic
    # 4-table publish with the fecha-ordered fact) on HIS-shaped
    # tables derived from this sf's testdata — tracked as its OWN key,
    # not summed into the headline total (r7 verdict item 7: the
    # flagship path needs a perf number; totals stay comparable).
    import shutil
    import tempfile

    from etl_his_spark.plans.his_pipeline import run_pipeline
    from etl_his_spark.sources.his_synth import his_tables_from_testdata

    spark.stop()
    spark = get_spark("bench")
    his_runs = []
    for _ in range(2):
        outdir = tempfile.mkdtemp(prefix="bench_his_publish_")
        t0 = time.time()
        run_pipeline(
            his_tables_from_testdata(spark, sf_dir), output_root=outdir
        )
        his_runs.append(round(time.time() - t0, 3))
        shutil.rmtree(outdir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    core_total = round(sum(timings.get(n, 0.0) for n in CORE), 3)

    sf = sf_dir.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # comparable to BENCH_r04 and earlier (same query set)
        "core_queries_total": core_total,
        # every pass's raw time per query (timings = min):
        # makes run-to-run variance visible instead of folded
        # silently into the headline number
        "runs_all": all_runs,
        # full 4-output HIS pipeline incl. atomic publish (min, all runs)
        "his_pipeline_publish": min(his_runs),
        "his_pipeline_publish_runs": his_runs,
        "queries": timings,
        # queries whose runs stayed contention-shaped even after the
        # fresh-session retries (see _contended) — read their min with
        # the isolated twin, not at face value
        "noise_suspect": noise_suspect,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "ambient_probe_sec": min(ambient_probe() for _ in range(3)),
        # fs-bound complement (read his_pipeline_publish against THIS)
        "ambient_io_probe_sec": min(ambient_io_probe() for _ in range(3)),
    }
    _persist(payload, "BENCH_LOCAL.json")
    # stdout gets a COMPACT line, not the full payload: the driver
    # captures only the last 2000 chars of stdout, and the full JSON
    # (≳3 kB of per-query keys alone) truncates from the front, making
    # the driver artifact unparseable (BENCH_r11 "parsed": null — r11
    # verdict item 5). The full payload (runs_all, every query keyed
    # by name) is committed in BENCH_LOCAL.json; the compact line
    # carries the totals, the 15 slowest queries by name, and ALL
    # per-query mins as an array in names() order (reconstructable
    # from bench.py HEADLINE + the registry, and cross-checkable
    # against BENCH_LOCAL.json).
    print(compact_line(payload, bench_names))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
