"""Benchmark runner (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with the noop sink (full computation of
every column, zero write cost) — `.count()` would let Catalyst prune
the work we're trying to measure.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

#: Headline set: the heaviest representative of each operator family.
HEADLINE = [
    "q_agg_multi",            # TPC-H Q1 shape: scan + 6 aggs
    "q_agg_count_distinct",   # exact distinct (expand)
    "q_join_inner",           # fact⋈dim equi join
    "q_join_broadcast",       # broadcast dim join + agg
    "q_join_asof",            # union+window as-of join
    "q_join_interval",        # time-band self join
    "q_agg_tumbling_window",  # time-bucketed agg
    "q_agg_session_window",   # native session windows
    "q_win_running_sum",      # analytic window (decimal frames)
    "q_topk_per_group",       # grouped top-k (WindowGroupLimit)
    "q_dedupe_consecutive",   # lag-based consecutive dedup
    "q_llm_exact_dedup",      # fingerprint dedup
    "q_llm_ngram_jaccard",    # shingle-join near-dup
    "q_llm_near_dup",         # MinHash+LSH (the scale path)
    "q_llm_token_stats",      # text stats (higher-order fns)
    "q_llm_cosine_topk",      # brute-force ANN baseline
    "q_sql_tpch_q3",          # join + agg + ORDER BY/LIMIT shape
    "q_sql_tpch_q5",          # 6-way snowflake join (SQL surface)
    "q_sql_tpch_q18",         # semi-join-heavy (large-order customers)
    "q_ktable_latest",        # changelog compaction (max_by)
    "q_llm_curation",         # composed curation pipeline (flagship)
]


#: Second gated set (r5 verdict #3): the heaviest POST-r1 families —
#: graph, contrastive mining, passage dedup, cluster representatives —
#: promoted out of the self-documenting extras into a pinned
#: `headline2` total (same min-of-two discipline as HEADLINE) so
#: regressions in these paths show up as gate deltas, not anecdotes.
#: Reference values: BENCH_NOTES.md "headline2 pinning".
HEADLINE2 = [
    "q_graph_pagerank",        # integer-exact 5-iteration PageRank
    "q_llm_triplets",          # contrastive mining (bucket equi-join)
    "q_llm_passage_dedup",     # boilerplate-passage removal
    "q_llm_cluster_best",      # Jaccard + Pregel + per-cluster window
]


#: Third gated set (r6 verdict #6): the highest-RISK family — the
#: shared-key pair joins that can go quadratic on a hot shingle or
#: fingerprint. r7 capped all three formerly-uncapped members
#: (containment / dup_provenance / winnowing now take the stop-shingle
#: or fp doc-freq cut; basket_jaccard carries hot_key_guard), and this
#: pin is what catches a future regression in that family as a NUMBER
#: rather than a plan read. Reference values: BENCH_NOTES.md
#: "headline3 pinning".
HEADLINE3 = [
    "q_llm_winnowing",         # MOSS window-min fp candidates (capped)
    "q_llm_containment",       # asymmetric containment near-dup (capped)
    "q_llm_dup_provenance",    # near-dup provenance audit (capped pairs)
    "q_orders_basket_jaccard", # shared-part basket sets (hot_key_guard)
]


#: Fourth gated set (r7 verdict #8): the embedding/ANN family — the
#: most expensive remaining extras (multi-probe sign-LSH, SemDeDup
#: k-means cells, B-proportional triplets). Promoted out of extras once
#: SemDeDup became self-scaling (k_cells derived in-plan, r8) so this
#: family regresses as a gate NUMBER, not an anecdote. Reference
#: values: BENCH_NOTES.md "headline4 pinning".
HEADLINE4 = [
    "q_llm_cosine_ann",        # multi-probe sign-LSH (7x probe side)
    "q_llm_semdedup",          # embedding-space dedup (cells ∝ corpus)
    "q_llm_triplets_scaled",   # B-proportional-to-N contrastive mining
]


#: Fifth gated set (r8 verdict #1): the two heaviest keys in the whole
#: registry (~7.6 s each idle — more than anything inside the other
#: four gates) were sitting in ungated extras, so a regression there
#: was invisible to the bench gate. Promoted with the standard pin
#: discipline. Reference values: BENCH_NOTES.md "headline5 pinning".
HEADLINE5 = [
    "q_llm_ivfpq_topk",        # IVF-PQ train+encode+ADC search (FAISS shape)
    "q_llm_dedup_reconcile",   # embedding-vs-shingle dedup audit (2 chains)
]


#: Sixth gated set (r9 verdict #1): the heaviest keys that were still
#: sitting in ungated extras after the r9 additions landed — the capped
#: pair-chain family's savings/threshold sweeps, the ExactSubstr span
#: removal, and the capped sessionizer (vectorized in r10: 5.0 -> 0.7 s).
#: Reference values: BENCH_NOTES.md "headline6 pinning".
HEADLINE6 = [
    "q_llm_dedup_savings",          # token-mass savings at the 0.5 cut
    "q_agg_session_capped",         # gap+cap sessionization (mapInPandas)
    "q_llm_dedup_threshold_curve",  # one pair build × 8 cuts
    "q_llm_substring_dedup",        # ExactSubstr span removal (no pair join)
    "q_llm_semdedup_threshold_curve",  # cosine-side cut sweep
]


#: Seventh gated set (r10 verdict #1): the heaviest keys still sitting
#: in ungated extras after the r10 additions — the two knob-curve
#: sweeps, the CDC streaming ingest (now on the r11 zero-char-exchange
#: kernel), and the k-core peel. Promoted with the standard pin
#: discipline. Reference values: BENCH_NOTES.md "headline7 pinning".
HEADLINE7 = [
    "q_llm_ann_probe_curve",   # IVF-PQ n_probe sweep (sampled training)
    "q_llm_lsh_band_curve",    # (b,r) geometry sweep, one sig build
    "q_stream_cdc_ingest",     # chunk-novelty standing-store admission
    "q_graph_kcore",           # 4-round k-core peeling
]


#: Round-5 additions, timed AFTER the headline set and reported in a
#: separate "extras" field so the baseline-comparable headline total is
#: untouched. One run each (these are not regression-gated, just
#: self-documenting).
EXTRAS = [
    "q_llm_intra_dedup",       # intra-doc repetition removal
    "q_llm_refresh_curation",  # composed crawl-refresh pipeline
    "q_join_salted",           # replicate-side salted skew join
    "q_join_asof_forward",     # forward as-of join
    "q_join_asof_bucketed",    # skew-split as-of (per-bucket seeds)
    "q_llm_bitext_mining",     # margin-criterion cross-lingual pairs
    "q_llm_decontaminate_fuzzy",  # winnowing-fp eval-overlap first pass
    "q_llm_budget_select",     # token-budget greedy curation cut
    "q_llm_random_projection", # JL dim cut (pure map)
    "q_events_trending",       # per-day top-k
    "q_llm_bloom_dedup",       # Bloom-prefiltered ingest dedup
    "q_events_heavy_hitters_sketch",  # Misra-Gries bounded-memory HH
    "q_agg_session_dynamic",   # dynamic-gap session windows
    # round-5 continuation additions
    "q_graph_bfs",             # 3-hop BFS neighborhood
    "q_zorder_curve",          # Morton layout key (pure map)
    "q_events_resample",       # 6h-grid linear interpolation
    "q_llm_edit_distance",     # blocked Levenshtein near-dup
    "q_llm_sorted_neighborhood",  # sorted-neighborhood blocking
    "q_llm_bm25",              # BM25 top-20 (linear idf)
    "q_data_quality",          # one-scan metric suite
    "q_orders_pareto",         # parallel global prefix-sum Pareto curve
    "q_events_changepoint",    # CUSUM split statistic
    "q_basket_affinity",       # within-basket co-occurrence lift
    "q_llm_inverted_index",    # posting-list build
    # round-5 final-wave additions
    "q_llm_mmr",               # MMR diversified top-k (greedy in-plan)
    "q_events_rolling_zscore", # trailing-frame online anomaly score
    "q_llm_char_trigrams",     # per-lang character trigram profile
    "q_orders_rfm",            # three parallel closed-form ntiles
    "q_events_stickiness_hll", # mergeable-sketch DAU/WAU
    "q_graph_link_prediction", # shared-customer Jaccard wedges
    "q_events_drift_chi2",     # timeline-half distribution drift
    # round-6 additions
    "q_llm_knn_label_agreement",  # 5-NN label accuracy eval
    "q_llm_filter_funnel",     # curation-loss attribution funnel
    "q_events_rolling_dau",    # exact trailing-7d distinct
    # round-9 additions
    "q_llm_bpe_merges",        # BPE merge training (vocab-iteration)
    "q_llm_bpe_encode",        # trained-tokenizer token accounting
    "q_multimodal_near_dup",   # dHash + Hamming-band media near-dup
    "q_llm_isotropy",          # Gram-sum isotropy (one pass, no pairs)
    "q_llm_ccnet_buckets",     # perplexity-stand-in terciles
    "q_llm_gopher_rules",      # per-rule pass/fail tuning table
    "q_zorder_skipping",       # OPTIMIZE-ZORDER decision audit
    "q_llm_dsir_select",       # integerized importance ranking
    "q_llm_top_direction",     # integer power-iteration Rayleigh
    "q_multimodal_audio_near_dup",  # eHash audio transcode dups
    "q_stream_quota_ingest",   # standing-store budget admission
    "q_stream_ingest_pipeline",  # composed dedup->quota ingest
    "q_cdc_merge",             # MERGE INTO upsert/delete apply
    "q_llm_record_linkage",    # Fellegi-Sunter triage bands
    "q_join_spatial_grid",     # grid-blocked radius join
    "q_geo_density_cores",     # DBSCAN stage-1 core points
    "q_incremental_join",      # delta-join view maintenance
    "q_events_ab_cuped",       # variance-reduced experiment readout
    "q_events_did",            # difference-in-differences readout
    "q_llm_bpe_curve",         # per-round tokenizer compression
    # round-10 additions (ann_probe_curve / lsh_band_curve /
    # stream_cdc_ingest promoted to HEADLINE7 in r11)
    "q_llm_cdc_chunks",        # content-defined chunking dedup report
    "q_llm_compress_ratio",    # zlib quality screen (mapInPandas scan)
    "q_llm_shard_export",      # export shard manifest (hash + seq window)
    "q_llm_cdc_chunks_hashed",   # CDC wire twin (8-byte kernel keys)
    # round-11 additions
    "q_llm_cdc_chunks_kernel", # zero-char-exchange CDC kernel (oracle'd)
]


#: Pinned single-thread probe time measured on the IDLE round-5 box
#: (BENCH_NOTES.md "Probe pinning"). cpu_probe_ratio >> 1 in the
#: emitted JSON means the box was contended DURING MEASUREMENT and the
#: headline total should be read with that multiplier in mind — the
#: bench is self-interpreting, a 2×-gate trip on a busy box is visible
#: as such.
PROBE_REFERENCE_SEC = 0.74

#: Pinned MULTI-CORE probe (r10 verdict #6): PROBE_MT_PROCS (one per
#: vCPU, ``os.cpu_count()``) processes running the same loop
#: concurrently, wall-clock of the batch. A fixed 32 ran 8x
#: oversubscribed on a 4-vCPU box and read idle cores as contention.
#: The single-thread probe missed the r10 driver-run contention
#: entirely (scalar ratios 1.13/1.18 while every shuffle-bound key
#: inflated ~26% — neighbors stealing CORES, not cycles); parallel
#: processes see exactly that.
#: Pinned RELATIVE to the scalar pin (BENCH_NOTES.md "Probe pinning",
#: r11): measured mt_wall / scalar_ratio at one box state (1.41 s /
#: 1.15), so both ratios read ~equal under pure cycle contention and
#: the mt ratio only DOMINATES the max() when cores are being stolen.
#: ONE process per vCPU: a narrower probe (8 procs) measured BLIND to
#: moderate theft — 24 of 32 cores stolen read mt 1.21 because the 8
#: workers just used the free cores, while the full-width probe reads
#: available-core loss proportionally (16/32 stolen → wall ×1.97,
#: validated r11) — and Spark's 32 task threads see what the full-width
#: probe sees.
PROBE_MT_REFERENCE_SEC = 1.23
PROBE_MT_PROCS = os.cpu_count() or 1


def cpu_probe() -> float:
    """Fixed pure-Python single-thread loop (20M iterations) — measures
    the box, not the engine. Same probe BENCH_NOTES.md used to diagnose
    the r3 phantom regression."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):
        acc += i & 7
    assert acc == 70_000_000
    return time.perf_counter() - t0


def _probe_worker(_: int) -> int:
    acc = 0
    for i in range(20_000_000):
        acc += i & 7
    return acc


def cpu_probe_mt() -> float:
    """PROBE_MT_PROCS (one per vCPU) copies of the scalar loop in
    PARALLEL PROCESSES (the GIL makes
    threads useless as a multi-core probe), wall time of the whole
    batch. Spawn (not fork): the JVM is live between the two probe
    points and forking its host process is unsafe."""
    from multiprocessing import get_context

    t0 = time.perf_counter()
    with get_context("spawn").Pool(PROBE_MT_PROCS) as pool:
        res = pool.map(_probe_worker, range(PROBE_MT_PROCS))
    assert all(r == 70_000_000 for r in res)
    return time.perf_counter() - t0


def _run_gated(
    qs, spark, names, sf_dir, cold: dict[str, float] | None = None
) -> dict[str, float]:
    """One gated set, the standing discipline: warm every key once at
    the smallest SF (codegen/parquet/shuffle JIT), then per key
    clearCache (operators that persist intermediates — jaccard/minhash
    — must not accumulate blocks across keys; the persists themselves
    are idempotent via persist_if_uncached, so run 2 legitimately
    reuses run 1's warm intermediates) and take the MIN of two
    noop-sink runs (damps one-off JIT/GC noise, measured 4-14 s
    first-run variance on multi-stage shuffle plans).

    r13 (r12 verdict "What's wrong" #2): the FIRST run's time is also
    recorded (into ``cold`` when given, shipped as ``queries_cold`` in
    BENCH_DETAIL) — run 2 reuses run 1's materialized persist blocks,
    so persist-type wins bench warm in the min; the cold column keeps
    the un-cached cost visible. Additions-only: the gated min and the
    compact line are unchanged."""
    for name in names:
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    timings: dict[str, float] = {}
    for name in names:
        spark.catalog.clearCache()
        best = float("inf")
        for run in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            took = time.perf_counter() - t0
            if run == 0 and cold is not None:
                cold[name] = round(took, 3)
            best = min(best, took)
        timings[name] = round(best, 3)
    return timings


def _probe_pair() -> dict[str, float]:
    """One (scalar, mt) probe-ratio reading — ~2 s."""
    return {
        "scalar": round(cpu_probe() / PROBE_REFERENCE_SEC, 2),
        "mt": round(cpu_probe_mt() / PROBE_MT_REFERENCE_SEC, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    probe = cpu_probe()
    probe_mt = cpu_probe_mt()

    from kafka_streams_clojure_spark.queries import queries
    from kafka_streams_clojure_spark.session import get_spark

    spark = get_spark("kscs-bench")
    qs = queries()

    # gated sets 1-7, each pinned in BENCH_NOTES.md ("headline{N}
    # pinning"). A probe pair is taken AFTER EACH SET (r11 verdict #5,
    # "per-group probes"): tools/probe_experiment.py showed the probes
    # track the BOX, not the bench's own JVM (hot/quiesced/stopped all
    # read within noise of no-JVM), so end-probe inflation = real
    # late-run contention — per-group brackets localize it instead of
    # letting a contended tail over-normalize the set-1 headline.
    probe_trace: list[dict[str, float]] = []
    cold: dict[str, float] = {}
    timings = _run_gated(qs, spark, HEADLINE, sf_dir, cold)
    total = round(sum(timings.values()), 3)
    probe_trace.append(_probe_pair())
    timings2 = _run_gated(qs, spark, HEADLINE2, sf_dir, cold)
    total2 = round(sum(timings2.values()), 3)
    probe_trace.append(_probe_pair())
    timings3 = _run_gated(qs, spark, HEADLINE3, sf_dir, cold)
    total3 = round(sum(timings3.values()), 3)
    probe_trace.append(_probe_pair())
    timings4 = _run_gated(qs, spark, HEADLINE4, sf_dir, cold)
    total4 = round(sum(timings4.values()), 3)
    probe_trace.append(_probe_pair())
    timings5 = _run_gated(qs, spark, HEADLINE5, sf_dir, cold)
    total5 = round(sum(timings5.values()), 3)
    probe_trace.append(_probe_pair())
    timings6 = _run_gated(qs, spark, HEADLINE6, sf_dir, cold)
    total6 = round(sum(timings6.values()), 3)
    probe_trace.append(_probe_pair())
    timings7 = _run_gated(qs, spark, HEADLINE7, sf_dir, cold)
    total7 = round(sum(timings7.values()), 3)

    extras: dict[str, float] = {}
    # Warm extras at the smallest SF too: the iterative keys
    # (cluster_best's Pregel loop) generate many unique codegen'd plans
    # whose first-call JIT dwarfed the sf0.1 runtime (35.8s recorded vs
    # 6.4s controlled — BENCH_NOTES.md) and made the self-documenting
    # extras section misleading.
    for name in EXTRAS:
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    for name in EXTRAS:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        extras[name] = round(time.perf_counter() - t0, 3)
    # Second probe AFTER the timed work: this box is a microVM whose
    # effective CPU drifts with host neighbors (observed ratio swings
    # 0.81 -> 1.15 within one hour, load avg > 5 with zero local
    # processes). A start-only probe can misnormalize a run that got
    # slow mid-flight; reporting both ends makes the drift visible so
    # the reader normalizes against the WORSE of the two.
    probe_end = cpu_probe()
    probe_mt_end = cpu_probe_mt()
    # probe-normalized headline total (r9 verdict #1): the recurring
    # contended-box confusion (r3, r7, r9's q_sql_tpch_q3) resolved IN
    # the artifact — divide by the mean probe ratio, never below 1.0
    # (an idle-faster box must not deflate the number; the pin was
    # measured at ratio ~1.0). Read it against the r1 baseline
    # 14.157 s directly. r11 (r10 verdict #6): normalize against the
    # WORSE of the scalar and multi-core probe dimensions — the r10
    # driver run inflated 26% at scalar ratios 1.13/1.18 because
    # neighbors stole CORES (shuffle-bound keys only), which only the
    # parallel probe can see.
    # r12 rule change (r11 verdict #5): normalize the SET-1 headline by
    # the probes that BRACKET SET 1 — the run start and the pair taken
    # immediately after the set — not by a run-end probe measured ~15
    # min of other groups later. probe_experiment.py showed probes read
    # the box (no self-heat), so a contended tail is real contention
    # DURING THE TAIL GROUPS and must not over-credit the set-1 number.
    # The full probe_trace (one pair per gated set) ships in the detail
    # artifact so every group total can be read against its own bracket.
    mean_ratio_st = (probe / PROBE_REFERENCE_SEC + probe_trace[0]["scalar"]) / 2.0
    mean_ratio_mt = (probe_mt / PROBE_MT_REFERENCE_SEC + probe_trace[0]["mt"]) / 2.0
    mean_ratio = max(1.0, mean_ratio_st, mean_ratio_mt)
    norm_total = round(total / mean_ratio, 3)
    # r7 lesson (VERDICT r7 "What's wrong" #2): the driver captures only
    # a ~2.2 KB stdout TAIL and parses the LAST JSON line. One big line
    # with 39 extras (>4 KB) got truncated mid-`queries` and BENCH_r07
    # recorded `parsed: null`, blinding the mechanical bench gate. So:
    # full detail goes to BENCH_DETAIL.json + an early detail line, and
    # the FINAL printed line is a compact summary guaranteed to fit the
    # tail window.
    detail = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_probe_sec": round(probe, 3),
        "cpu_probe_ratio": round(probe / PROBE_REFERENCE_SEC, 2),
        "cpu_probe_sec_end": round(probe_end, 3),
        "cpu_probe_ratio_end": round(probe_end / PROBE_REFERENCE_SEC, 2),
        "cpu_probe_mt_sec": round(probe_mt, 3),
        "cpu_probe_mt_ratio": round(probe_mt / PROBE_MT_REFERENCE_SEC, 2),
        "cpu_probe_mt_sec_end": round(probe_mt_end, 3),
        "cpu_probe_mt_ratio_end": round(
            probe_mt_end / PROBE_MT_REFERENCE_SEC, 2
        ),
        "headline2_total_sec": total2,
        "queries2": timings2,
        "headline3_total_sec": total3,
        "queries3": timings3,
        "headline4_total_sec": total4,
        "queries4": timings4,
        "headline5_total_sec": total5,
        "queries5": timings5,
        "headline6_total_sec": total6,
        "queries6": timings6,
        "headline7_total_sec": total7,
        "queries7": timings7,
        "probe_trace": probe_trace,
        "probe_normalized_total": norm_total,
        "queries_cold": cold,
        "extras": extras,
    }
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail))
    compact = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_probe_ratio": round(probe / PROBE_REFERENCE_SEC, 2),
        "cpu_probe_ratio_end": round(probe_end / PROBE_REFERENCE_SEC, 2),
        "cpu_probe_mt_ratio": round(probe_mt / PROBE_MT_REFERENCE_SEC, 2),
        "cpu_probe_mt_ratio_end": round(
            probe_mt_end / PROBE_MT_REFERENCE_SEC, 2
        ),
        "headline2_total_sec": total2,
        "headline3_total_sec": total3,
        "headline4_total_sec": total4,
        "headline5_total_sec": total5,
        "headline6_total_sec": total6,
        "headline7_total_sec": total7,
        "probe_normalized_total": norm_total,
    }
    line = json.dumps(compact)
    if len(line) > 2000:  # belt-and-braces: never outgrow the tail again
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
