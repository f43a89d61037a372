"""Plan lint across the ENTIRE query registry: build (don't execute)
every key's plan and reject scale-hostile shapes — accidental
cartesian products, Python evaluation outside the declared UDF keys,
and a tokenizer re-evaluated for every row its generator emits. This
is the automated form of the `.explain` discipline."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from kafka_streams_clojure_spark.plans import (
    physical_plan,
    retokenized_generates,
    unpartitioned_window_cols,
)

_Q = entrymod.queries()

#: keys whose PLAN legitimately contains a broadcast nested loop /
#: cartesian — non-equi joins by definition (theta/cross), or a
#: deliberate crossJoin of a tiny broadcast side (scalar probe /
#: corpus-count attachment / the k-row IVF centroid table)
_NONEQUI_OK = {
    "q_join_theta",
    "q_join_cross",
    "q_llm_cosine_topk",
    "q_llm_topk_multi",
    "q_llm_knn_label_agreement",  # same broadcast 20-row probe crossJoin
    "q_llm_tfidf",
    "q_llm_ivf_topk",
    "q_llm_pq_topk",  # kmeans codebook build broadcasts k centroids
    # same bounded shapes composed: broadcast-centroid assignment
    # crossJoins (corpus × √N-cell table, probes × cells), the m·ks-row
    # codebook broadcast, and the 1-row adaptive-seed stats broadcast
    "q_llm_ivfpq_topk",
    # serving twin: probe-side broadcast-centroid crossJoin against the
    # persisted index (plus the build's bounded shapes on first call)
    "q_llm_ivfpq_serve",
    # knob-setting curve: the ivfpq bounded shapes + a broadcast 15-row
    # exact-baseline probe crossJoin + a broadcast 4-row n_probe fan-out
    "q_llm_ann_probe_curve",
    # crossJoin of a broadcast 1-ROW aggregate (corpus total folded
    # in-plan) — a BNLJ whose build side is a single row is bounded
    "q_llm_domain_mix",
    "q_llm_length_hist",
    "q_llm_tfidf_linear",
    "q_win_ntile",
    "q_llm_length_band",
    "q_llm_collocations",  # 1-row broadcast bigram total
    # MG sketch: crossJoins of TWO 1-row broadcast aggregates (the
    # global err bound and n_total) onto a <= capacity×partitions table
    "q_events_heavy_hitters_sketch",
    # crossJoin of the broadcast 10-row per-label centroid table
    "q_llm_nearest_centroid",
    # crossJoin of the broadcast 1-row (N, avgdl) stats aggregate
    "q_llm_bm25",
    # crossJoin of the broadcast 1-row max-ts anchor
    "q_events_recency_weighted",
    # crossJoin of the broadcast 1-row n_orders total
    "q_basket_affinity",
    # crossJoin of the broadcast 1-row revenue total
    "q_orders_pareto",
    # crossJoin of the broadcast 1-row (min, max) bin-edge side
    "q_events_value_hist",
    # crossJoin of the broadcast 1-row revenue total (Pareto cut)
    "q_orders_abc",
    # crossJoin of two broadcast 1-row aggregates (top mass × totals)
    "q_llm_vocab_coverage",
    # broadcast 1-row max-id side + a <= theta join over TWO 10-row
    # decile tables (the cumulative over a bounded dimension)
    "q_llm_growth_curve",
    # crossJoins of the broadcast 1-row corpus-max-date anchor and the
    # broadcast 1-row customer count (the ntile closed-form's __n)
    "q_orders_rfm",
    # crossJoin of the broadcast 1-row n_docs total (tfidf_linear's)
    "q_llm_keywords",
    # crossJoins of the 1-row probe and of the persisted ≤20-row pool
    # with itself (the MMR pairwise-sim matrix — k_pool² bounded)
    "q_llm_mmr",
    # crossJoin of the broadcast 1-ROW winning pair, once per unrolled
    # BPE training round
    "q_llm_bpe_merges",
    # crossJoin of the broadcast 1-row p95 threshold
    "q_events_bot_flags",
    # crossJoin of the broadcast 1-row timeline-midpoint
    "q_orders_segment_migration",
    # crossJoin of the broadcast eval-slice anchor ids (tiny by
    # definition — the decontaminate broadcast argument), cut to the
    # 20% pair-hash bucket before ranking
    "q_llm_negative_pairs",
    # crossJoin of the broadcast 1-row (min, max, midpoint) bounds
    "q_events_drift_chi2",
    # crossJoin of the broadcast 1-row Σ√n mixture denominator
    "q_llm_mixture_weights",
    # crossJoin of the broadcast 1-row token-budget aggregate
    "q_llm_budget_select",
    # crossJoins of the broadcast k-row centroid table (kmeans build +
    # cell assignment — the q_llm_ivf_topk/nearest_centroid precedent)
    "q_llm_semdedup",
    # crossJoins of the broadcast 1-row corpus-derived bucket count B
    # onto both bucket projections (the B∝N triplet form; the negative
    # candidate join itself stays the md5-bucket EQUI-join —
    # test_plan_shape pins it)
    "q_llm_triplets_scaled",
    # crossJoins of TWO broadcast 1-row aggregates (the gmax quantizer
    # scale and the sum-of-squares / gram totals) — the Gram-sum
    # identity's whole point is that there is no pair join
    "q_llm_isotropy",
    # BNLJ of the pair table against the broadcast 8-row threshold
    # list (a range predicate by definition); the pair table itself is
    # the capped shared-shingle EQUI-join
    "q_llm_dedup_threshold_curve",
    # same shape, cosine side: 5-row broadcast threshold fan-out over
    # the label-blocked exact pair table
    "q_llm_semdedup_threshold_curve",
    # crossJoin of the broadcast 1-row corpus count (the rank-bucket
    # denominator); ranks/file-ids are the parallel global_index idiom
    "q_zorder_skipping",
    # crossJoin of the broadcast 1-row doc count (the tercile-boundary
    # denominator); ranks are the parallel global_index idiom
    "q_llm_ccnet_buckets",
    # crossJoins of TWO broadcast 1-row aggregates (the gmax quantizer
    # scale and the Rayleigh/trace totals) — the power-iteration rounds
    # themselves are vec-/dim-keyed equi aggregates
    "q_llm_top_direction",
}

#: keys allowed an unpartitioned (single-task-sort) window — EMPTY and
#: should stay that way (q_win_ntile moved to the parallel
#: global_index closed-form idiom in round 4)
_GLOBAL_WINDOW_OK: set[str] = set()

#: tiny-input order columns: windows over one-row-per-partition
#: summaries (the zipWithIndex idiom in operators/order.py)
_TINY_WINDOW_COLS = {"__pid"}

#: keys that intentionally run Python (Arrow-batched UDFs)
_PYTHON_OK = {
    "q_udf_scalar",
    "q_udf_grouped_map",
    "q_udaf_grouped_agg",
    "q_llm_winnow",
    "q_multimodal_features",
    "q_multimodal_audio",
    "q_multimodal_dedup",  # blob generation is the same mapInPandas encoder
    "q_multimodal_frames",
    "q_multimodal_resize",
    "q_multimodal_near_dup",  # gradient encode + resize + dHash mapInPandas
    "q_multimodal_audio_near_dup",  # stepped-WAV encode + decimate + eHash
    "q_llm_ivfpq_serve",  # Arrow bucket/assignment UDFs (the ivfpq family)
    # r11 numpy cell-assignment kernel (_assign_cells): the probe-side
    # assignment is the one that survives into the final plan (the
    # corpus side sits behind the build's localCheckpoint)
    "q_llm_ivfpq_topk",
    # r11 grouped within-cell verify (_grouped_all_pairs_cosine):
    # √N-group applyInPandas — only qualifying pairs leave Python
    "q_llm_semdedup",
    # r11 numpy PQ encoder (pq_encode mapInPandas over the collected
    # m·k-row codebook) — the corpus-side encode in the final plan
    "q_llm_pq_topk",
    # r12 incremental maintenance: the delta's frozen assign + encode
    # are the same ivfpq-family kernels (ivfpq_append)
    "q_llm_ivfpq_append",
    # zlib quality screen: compression is not expressible in Catalyst —
    # one Arrow-batched mapInPandas scan, no shuffle, zlib in C
    "q_llm_compress_ratio",
    # CDC production kernel (r11): doc-local numpy rolling hash emits
    # chunk rows only — the whole point is REMOVING the char-granular
    # exchange of the windowed twin; oracle-gated (md5 identity)
    "q_llm_cdc_chunks_kernel",
    "q_llm_cdc_chunks_hashed",  # same kernel, 8-byte truncated-md5 keys
    # capped sessionization: duration-cap semantics are sequential per
    # user (no window form); r10 shape = mapInPandas over user-sorted
    # partitions running the per-session numpy kernel
    "q_agg_session_capped",
    "q_error_swallow",
    "q_error_dead_letter",  # same tolerant mapInPandas router, DLQ side
    # rows-only ANN hot loops: cosine_arrow (vectorized pandas_udf)
    # adopted after the round-5 bench — 3.1× vs the interpreted HOF
    # (BENCH_NOTES.md "Cosine hot loop"); oracle keys keep the fold
    "q_llm_cosine_ann",
    "q_llm_ivf_topk",
    # r12 Arrow einsum cosine PREFILTER ahead of the exact interpreted
    # fold in the blocked all-pairs chain (OPTIMIZATION_r12.md entry 1):
    # the fold still decides every emitted pair (bit-identical results,
    # oracle-gated), the Arrow node just stops it running on pairs the
    # ≥ t−1e-9 screen rejects. asNondeterministic pins it above the
    # fold filter.
    "q_llm_embedding_near_dup",
    "q_llm_dedup_reconcile",
    "q_llm_semdedup_threshold_curve",
    # true Python UDTF (§2.10 parity surface) — row-at-a-time by
    # design, input bounded in the key; the codegen form of the same
    # expansion is operators/text.token_windows
    "q_udtf_tokens",
    # Misra-Gries mapInPandas: Python touches <= capacity+batch
    # counters per batch, never the raw rows (operators/sketch.py)
    "q_events_heavy_hitters_sketch",
}

#: streaming / side-effecting keys execute on call — skip plan-building
#: them here (their shapes are covered by their own tests)
_SKIP = {k for k in _Q if k.startswith("q_stream")} | {
    "q_sink_roundtrip",
    "q_store_point_lookup",
    "q_store_range_scan_live",
}


@pytest.mark.parametrize("name", sorted(set(_Q) - _SKIP))
def test_plan_is_scale_safe(name, spark, sf_dir):
    plan = physical_plan(_Q[name](spark, sf_dir))
    if name not in _NONEQUI_OK:
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a BNLJ"
    if name not in _PYTHON_OK:
        assert "EvalPython" not in plan, f"{name} runs Python outside the UDF keys"
        assert "FlatMapGroupsInPandas" not in plan, f"{name} unexpectedly uses pandas"
        assert "MapInPandas" not in plan, f"{name} unexpectedly uses mapInPandas"
    retok = retokenized_generates(plan)
    assert not retok, (
        f"{name} evaluates {retok} above the Generate that explodes it "
        f"(once per generated row) — use operators/text.token_windows"
    )


@pytest.mark.parametrize("name", sorted(set(_Q) - _SKIP - _GLOBAL_WINDOW_OK))
def test_no_unpartitioned_windows(name, spark, sf_dir):
    """A Window.orderBy with no partitionBy is a single-task sort of
    the whole input — allowed only over tiny per-partition summaries
    (ordered by __pid) or in explicitly report-scale keys."""
    cols = unpartitioned_window_cols(_Q[name](spark, sf_dir))
    bad = [c for c in cols if c not in _TINY_WINDOW_COLS]
    assert not bad, (
        f"{name} has unpartitioned window(s) ordered by {bad} — use "
        f"operators/order.py (global_index/take_while_global) or "
        f"partitionBy, or allowlist as report-scale"
    )
