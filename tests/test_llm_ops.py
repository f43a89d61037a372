"""Invariant tests for the rows-only LLM ops (no SQL oracle possible:
engine-specific hashes / probabilistic recall / stubbed decoders).

Strategy: verify each approximate operator against its exact
counterpart on the same fixture — MinHash-LSH vs exact Jaccard,
sign-LSH ANN vs brute-force cosine — plus structural invariants
(ordering, symmetry, schema, determinism).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_clojure_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from kafka_streams_clojure_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_pairs,
)
from kafka_streams_clojure_spark.queries._util import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").persist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").persist()


#: A 1,000-token document: the phrase "table hash" every 10 tokens,
#: filler pairs that repeat often enough for the collocation floor.
_LONG_DOC = " ".join(
    "table" if i % 10 == 0 else "hash" if i % 10 == 1 else f"w{i % 7}"
    for i in range(1000)
)


def _edge_docs(k: int) -> list[tuple[int, str | None]]:
    """Token-window edge cases for window width ``k``: null and empty
    text, leading/trailing/repeated whitespace, exactly k and k + 1
    tokens, a 1,000-token document, and a doc_id that occurs twice (its
    second row has null text)."""
    return [
        (901, None),
        (902, ""),
        (903, "  table hash\t\tw1  w2 "),
        (904, " ".join(f"e{i}" for i in range(k))),
        (905, " ".join(f"e{i}" for i in range(k + 1))),
        (906, _LONG_DOC),
        (907, "Table Hash table hash w1 w2"),
        (907, None),
    ]


def _split_ref(text: str) -> list[str]:
    """Python twin of ``split(text, '\\s+')``: Java's split with limit
    -1 keeps the leading and trailing empty tokens, as ``re.split``
    does; ASCII ``\\s`` is Java's whitespace class."""
    import re

    return re.split(r"\s+", text, flags=re.ASCII)


def _plan_has_no_token_shuffle(df) -> None:
    from kafka_streams_clojure_spark.plans import physical_plan

    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_minhash_lsh_finds_exact_duplicates(docs):
    """Exact duplicate texts have Jaccard 1.0 → every exact-dup pair
    MUST be found by LSH (identical signatures collide in all bands).
    The fixture has no exact dups, so plant synthetic ones: each of the
    first 20 docs duplicated under doc_id + 1_000_000."""
    planted = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(planted)
    expected = {(float(i), float(i + 1_000_000)) for i in range(20)}
    found = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(corpus, n_hashes=32, bands=8, threshold=0.9).collect()
    }
    missing = {(int(a), int(b)) for a, b in expected} - {
        (int(a), int(b)) for a, b in found
    }
    assert not missing, f"LSH missed planted exact duplicates: {sorted(missing)[:5]}"


def test_minhash_lsh_recall_on_natural_near_dups(docs):
    """The fixture's natural near-dups (exact Jaccard >= 0.8) must be
    recovered by banded LSH with high recall (b=8, r=4 → P(catch) >
    0.998 at j=0.8)."""
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, k=4, threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-duplicate texts"
    found = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.5).collect()
    }
    recall = len(exact & found) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} near-dup pairs"


def test_minhash_estimates_track_exact_jaccard(docs):
    """For pairs surfaced by both paths, |est - exact| must be small on
    average (32 hashes → σ ≈ 0.09)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=4, threshold=0.5).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, n_hashes=32, bands=8, threshold=0.0).collect()
    }
    common = set(exact) & set(est)
    assert common, "no overlapping pairs between exact and LSH paths"
    errs = [abs(exact[p] - est[p]) for p in common]
    assert sum(errs) / len(errs) < 0.15, f"mean |est-exact| too high: {sum(errs)/len(errs):.3f}"


def test_simhash_identical_docs_collide(docs):
    """Identical texts → identical simhash (hamming 0); near-identical
    texts → small hamming. Planted dups prove the identity property;
    natural near-dups must surface within the hamming budget."""
    planted = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(planted)
    found = simhash_near_dups(corpus, max_hamming=3)
    zero = {
        (int(r.id_a), int(r.id_b))
        for r in found.filter(F.col("hamming") == 0).collect()
    }
    expected = {(i, i + 1_000_000) for i in range(10)}
    assert expected <= zero, f"planted dups missing: {sorted(expected - zero)[:5]}"


def test_lsh_ann_recall_vs_brute_force(emb, spark):
    """Sign-LSH recall on high-cosine pairs. The fixture's vectors are
    near-orthogonal (max pairwise cosine ≈ 0.48), so plant 25 near-dup
    vectors (tiny deterministic perturbation → cosine ≈ 0.999) and
    require the LSH path to recover almost all planted pairs."""
    base = emb.filter(F.col("vec_id") < 25).collect()
    perturbed = [
        (
            int(r.vec_id) + 1_000_000,
            [float(v) + 0.001 * ((i % 3) - 1) for i, v in enumerate(r.embedding)],
            int(r.label),
        )
        for r in base
    ]
    extra = spark.createDataFrame(
        perturbed, "vec_id long, embedding array<float>, label int"
    )
    corpus = emb.unionByName(extra)
    expected = {(i, i + 1_000_000) for i in range(25)}
    approx = {
        (int(r.id_a), int(r.id_b))
        for r in lsh_cosine_pairs(
            corpus, n_planes=12, n_tables=4, threshold=0.95
        ).collect()
    }
    recall = len(expected & approx) / len(expected)
    assert recall >= 0.9, f"ANN recall too low: {recall:.2f}"
    # every returned pair really has cosine >= threshold (no false
    # positives — candidates are verified with exact cosine)
    assert all(a < b for a, b in approx)


def test_cosine_topk_self_first(emb):
    """The probe itself (vec_id=0) must rank first with sim ≈ 1."""
    probe = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    top = cosine_topk(emb, probe, k=5).collect()
    assert top[0].vec_id == 0
    assert top[0].cos_sim == pytest.approx(1.0, abs=1e-6)
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_plumbing_shapes(spark, sf_dir):
    """Binary column + metadata struct + mapInPandas feature extraction:
    schema, row conservation, determinism of the stub decoder."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        attach_media,
        decode_image_features,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_media(
        docs.withColumn("blob", F.encode(F.col("text"), "utf-8")), "blob", "image", "raw"
    )
    meta = media.select("media_meta.*").head()
    assert meta.media_type == "image" and meta.n_bytes > 0 and len(meta.checksum) == 32

    feats = decode_image_features(media, "blob", fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(64 <= r.width <= 1087 and r.n_channels in (1, 2, 3, 4) for r in rows)
    rows2 = decode_image_features(media, "blob", fake=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2)), "stub decoder not deterministic"

    frames = sample_frames(media, "blob", every_n=5)
    assert frames.columns == ["doc_id", "frame_idx", "frame"]
    assert frames.count() >= 50  # at least one frame per doc


def test_real_decoders_exact():
    """Pure-stdlib codecs decode known tiny fixtures EXACTLY."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        decode_netpbm,
        decode_wav,
        encode_bmp,
    )

    # 2x2 24-bit BMP: pixel-channel bytes 0..11, mean = 5.5/255
    pixels = bytes(range(12))
    blob = encode_bmp(pixels, 2, 2)
    assert decode_bmp(blob) == (2, 2, 3, pytest.approx(5.5 / 255.0))
    assert decode_image(blob) == decode_bmp(blob)

    # P5 PGM 3x1, maxval 255, raster [0, 128, 255]
    pgm = b"P5\n# c\n3 1\n255\n" + bytes([0, 128, 255])
    assert decode_netpbm(pgm) == (3, 1, 1, pytest.approx((0 + 128 + 255) / 3 / 255.0))

    # P6 PPM 1x1 white
    ppm = b"P6\n1 1\n255\n\xff\xff\xff"
    assert decode_netpbm(ppm) == (1, 1, 3, pytest.approx(1.0))

    # 16-bit mono WAV of a constant half-scale sample
    import io
    import struct as st
    import wave as wv

    buf = io.BytesIO()
    with wv.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(st.pack("<4h", 16384, 16384, -16384, -16384))
    ch, rate, nf, rms = decode_wav(buf.getvalue())
    assert (ch, rate, nf) == (1, 8000, 4)
    assert rms == pytest.approx(0.5)

    with pytest.raises(ValueError, match="codec library"):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"plain text bytes")


def test_multimodal_real_roundtrip(spark, sf_dir):
    """q_multimodal_features / q_multimodal_audio run the REAL codecs:
    encode text as BMP/WAV, decode, and the recovered geometry must
    match the source text byte counts exactly."""
    import __spark_entry__ as entrymod

    img = entrymod.queries()["q_multimodal_features"](spark, sf_dir)
    irows = {r.doc_id: r for r in img.collect()}
    lens = {r.doc_id: len(r.text.encode("utf-8")) or 1 for r in
            load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()}
    assert set(irows) == set(lens)
    for did, r in irows.items():
        assert r.width == 32 and r.n_channels == 3
        assert r.height == -(-lens[did] // 96), f"doc {did}: wrong decoded height"

    aud = entrymod.queries()["q_multimodal_audio"](spark, sf_dir)
    arows = {r.doc_id: r for r in aud.collect()}
    assert set(arows) == set(lens)
    for did, r in arows.items():
        assert r.n_channels == 1 and r.sample_rate == 8000
        assert r.n_frames == lens[did], f"doc {did}: frame count != byte count"
        assert 0.0 <= r.rms <= 1.0


def test_sample_fraction_bounds(spark, sf_dir):
    """q_sample: reproducible seeded Bernoulli sample, fraction within
    loose binomial bounds, and deterministic across runs."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["q_sample"]
    a = {(r.l_orderkey, r.l_linenumber) for r in q(spark, sf_dir).collect()}
    b = {(r.l_orderkey, r.l_linenumber) for r in q(spark, sf_dir).collect()}
    assert a == b, "seeded sample must be deterministic"
    total = load_table(spark, sf_dir, "lineitem").count()
    frac = len(a) / total
    assert 0.05 < frac < 0.15, f"sample fraction {frac:.3f} out of bounds"


def test_winnow_detects_planted_chunk_duplication(spark, sf_dir):
    """Two docs sharing a long substring (>= k+w-1 chars) MUST share a
    winnowed fingerprint (the scheme's coverage guarantee); unrelated
    short docs must not dominate with false pairs."""
    from kafka_streams_clojure_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_shared_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    # plant: copy a 120-char chunk of doc 0 into a synthetic doc
    base_text = docs.filter(F.col("doc_id") == 0).head()["text"]
    chunk = base_text[:120]
    extra = spark.createDataFrame(
        [(9_000_000, "unrelated prefix words " + chunk + " unrelated suffix")],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(extra)
    pairs = {
        (int(r.id_a), int(r.id_b))
        for r in winnow_shared_chunks(corpus, min_shared=1).collect()
    }
    assert (0, 9_000_000) in pairs, "shared 120-char chunk not detected"
    # determinism of the fingerprint set
    fp1 = sorted(
        (int(r.doc_id), int(r.fingerprint))
        for r in winnow_fingerprints(extra).collect()
    )
    fp2 = sorted(
        (int(r.doc_id), int(r.fingerprint))
        for r in winnow_fingerprints(extra).collect()
    )
    assert fp1 == fp2 and len(fp1) > 0


def test_tfidf_invariants(spark, sf_dir):
    """TF-IDF sanity: scores positive for non-universal tokens, a token
    appearing in every doc scores ~0, and for equal tf the rarer token
    outranks the commoner one."""
    import math

    import __spark_entry__ as entrymod

    out = entrymod.queries()["q_llm_tfidf"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    rows = out.collect()
    assert rows, "tfidf produced no rows"
    assert all(r.tfidf >= -1e-9 for r in rows), "negative tfidf"
    # cross-check a sample against a Python recomputation
    tok_rows = (
        docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("t")).collect()
    )
    from collections import Counter, defaultdict

    per_doc = defaultdict(Counter)
    doc_freq = Counter()
    for r in tok_rows:
        per_doc[r.doc_id][r.t] += 1
    for d, c in per_doc.items():
        for t in c:
            doc_freq[t] += 1
    sample = [r for r in rows if r.doc_id in list(per_doc)[:3]]
    for r in sample:
        want = per_doc[r.doc_id][r.token] * math.log(n_docs / doc_freq[r.token])
        assert abs(r.tfidf - want) < 1e-9, (r.token, r.tfidf, want)


def test_ann_key_nonempty_on_natural_fixture(spark, sf_dir):
    """The registered ANN key must demonstrate itself on the UNPLANTED
    fixture (near-orthogonal vectors, max cosine ≈ 0.48 → threshold
    0.4): nonzero verified pairs, all meeting the threshold."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q_llm_cosine_ann"](spark, sf_dir).collect()
    assert len(rows) > 0, "ANN returned no pairs on the natural fixture"
    assert all(r.cos_sim >= 0.4 for r in rows)


def test_topk_multi_probe_self_first(emb):
    """Each probe must rank itself first with cos ≈ 1 in the
    multi-probe exact top-k."""
    from kafka_streams_clojure_spark.operators.similarity import cosine_topk_multi

    out = cosine_topk_multi(emb, emb.filter(F.col("vec_id") < 3), k=3).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(int(r.probe_id), []).append(r)
    assert set(by_probe) == {0, 1, 2}
    for pid, rs in by_probe.items():
        rs.sort(key=lambda r: (-r.cos_sim, r.vec_id))
        assert int(rs[0].vec_id) == pid
        assert rs[0].cos_sim == pytest.approx(1.0, abs=1e-6)


def test_ivf_topk_recall_and_pruning(emb, spark):
    """IVF invariants: (a) each probe finds itself first (its own cell
    is always probed); (b) recall vs brute-force top-5 is high with
    n_probe=4 of 16 cells; (c) the candidate set is genuinely pruned
    (fewer scored pairs than brute force would score)."""
    from kafka_streams_clojure_spark.operators.similarity import (
        cosine_topk_multi,
        ivf_topk,
        kmeans_centroids,
    )

    cents = kmeans_centroids(emb, k=16, iters=3).persist()
    probes = emb.filter(F.col("vec_id") < 10)
    approx = ivf_topk(emb, probes, cents, k=5, n_probe=4).collect()
    exact = cosine_topk_multi(emb, probes, k=5).collect()

    by_probe = {}
    for r in approx:
        by_probe.setdefault(int(r.probe_id), []).append(r)
    for pid, rs in by_probe.items():
        rs.sort(key=lambda r: (-r.cos_sim, r.vec_id))
        assert int(rs[0].vec_id) == pid, "probe's own cell must contain it"
        assert rs[0].cos_sim == pytest.approx(1.0, abs=1e-6)

    exact_pairs = {(int(r.probe_id), int(r.vec_id)) for r in exact}
    approx_pairs = {(int(r.probe_id), int(r.vec_id)) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"IVF recall too low even for near-orthogonal data: {recall}"

    # (c) pruning: every probe scores strictly fewer candidates than the
    # corpus — degenerate assignment (all rows in the probed cells)
    # would silently turn IVF back into brute force
    from kafka_streams_clojure_spark.operators.similarity import _assign_cells

    corpus = _assign_cells(emb, cents, id_cols=["vec_id"])
    pr = _assign_cells(
        probes.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("_pv")),
        cents,
        vec_col="_pv",
        n_probe=4,
        id_cols=["probe_id"],
    )
    n_docs = emb.count()
    per_probe = {
        int(r.probe_id): int(r.n)
        for r in corpus.join(pr, "cell").groupBy("probe_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_probe and all(n < 0.9 * n_docs for n in per_probe.values()), (
        f"IVF candidate sets not pruned: {per_probe} vs corpus {n_docs}"
    )
    cents.unpersist()


def test_train_sample_saturation_and_engagement(spark):
    """The r11 sampled-training contract: (a) below the MIN_TRAIN floor
    the hash-fraction filter is the IDENTITY (small fixtures train on
    the full corpus — what keeps every pre-r11 result bit-identical);
    (b) above it, the expected sample size tracks max(MIN_TRAIN,
    TRAIN_PER_CELL·k) within sampling noise; (c) the sample is
    deterministic (same rows both calls — the serve≡retrain premise)."""
    from kafka_streams_clojure_spark.operators.similarity import (
        MIN_TRAIN,
        TRAIN_PER_CELL,
        _train_sample,
    )

    small = spark.range(0, 1000).select(
        F.col("id").alias("vec_id"), F.array(F.lit(0.0)).alias("embedding")
    )
    assert _train_sample(small, "vec_id", 16).count() == 1000

    n = 40_000
    big = spark.range(0, n).select(
        F.col("id").alias("vec_id"), F.array(F.lit(0.0)).alias("embedding")
    )
    got = _train_sample(big, "vec_id", None).select("vec_id")
    n_got = got.count()
    import math

    expected = max(MIN_TRAIN, TRAIN_PER_CELL * math.ceil(math.sqrt(n)))
    assert expected < n  # the scenario actually engages sampling
    assert 0.8 * expected <= n_got <= 1.25 * expected, (n_got, expected)
    again = _train_sample(big, "vec_id", None).select("vec_id")
    assert got.exceptAll(again).count() == 0 and n_got == again.count()


def test_kmeans_centroids_deterministic_and_shaped(emb):
    """The quantizer is deterministic (no RNG) and emits k cells of
    dim-length double centroids."""
    from kafka_streams_clojure_spark.operators.similarity import kmeans_centroids

    a = kmeans_centroids(emb, k=8, iters=2).collect()
    b = kmeans_centroids(emb, k=8, iters=2).collect()
    ca = {int(r.cell): list(r.centroid) for r in a}
    cb = {int(r.cell): list(r.centroid) for r in b}
    assert set(ca) <= set(range(8)) and ca == cb
    assert all(len(v) == 64 for v in ca.values())


def test_connected_components_transitive_chain(spark):
    """A path graph A-B-C-D plus a separate pair must collapse to two
    components labeled by their min ids — proves transitivity beyond
    direct pairs (diameter 3 > 1 iteration)."""
    from kafka_streams_clojure_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        int(r.id): int(r.component)
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    cl = dedup_clusters(edges).collect()
    canon = {int(r.doc_id): bool(r.is_canonical) for r in cl}
    assert canon == {1: True, 2: False, 3: False, 4: False, 10: True, 11: False}


def test_decontaminate_planted_overlap(spark):
    """A training doc that quotes a 4-gram from the benchmark is
    flagged with the right hit count; disjoint docs are not flagged."""
    from kafka_streams_clojure_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains "quick brown fox jumps" + 2 more bench 4-grams
            (10, "she saw the quick brown fox jumps over a fence"),
            (11, "completely unrelated words in this sentence here"),
            (12, "tiny doc"),  # <=4 tokens -> whole-text shingle, no hit
        ],
        "doc_id long, text string",
    )
    hits = {int(r.doc_id): int(r.n_hits) for r in decontaminate(train, bench).collect()}
    assert 10 in hits and hits[10] >= 1
    assert 11 not in hits and 12 not in hits


def test_repetition_stats_known_values(spark):
    """Hand-computed dup-token ratio and top-bigram fraction."""
    from kafka_streams_clojure_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),   # 5 toks, 2 distinct; bigrams: ab,ba,ab,ba -> top 2/4
            (2, "x y z"),       # 3 toks distinct; bigrams xy,yz -> top 1/2
            (3, "solo"),        # 1 token -> excluded
        ],
        "doc_id long, text string",
    )
    stats = repetition_stats(df)
    _plan_has_no_token_shuffle(stats)
    out = {int(r.doc_id): r for r in stats.collect()}
    assert set(out) == {1, 2}
    assert abs(out[1].dup_token_ratio - (1 - 2 / 5)) < 1e-12
    assert abs(out[1].top_bigram_frac - 2 / 4) < 1e-12
    assert abs(out[2].dup_token_ratio - 0.0) < 1e-12
    assert abs(out[2].top_bigram_frac - 1 / 2) < 1e-12


def test_stop_shingle_cut_bounds_candidates(spark):
    """max_doc_freq: a shingle shared by EVERY doc (boilerplate) must
    not generate candidates, while genuine near-dup pairs (sharing
    rare shingles) survive with jaccard now a lower bound."""
    from kafka_streams_clojure_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved contact us for details"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"alpha beta gamma delta epsilon zeta {boiler}"),  # true dup of 1
        (3, f"one two three four five six {boiler}"),
        (4, f"seven eight nine ten eleven twelve {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = ngram_jaccard_pairs(df, k=3, threshold=0.05)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    # boilerplate shingles connect everything at a permissive threshold
    assert (1, 3) in exact_pairs or (3, 4) in exact_pairs

    cut = ngram_jaccard_pairs(df, k=3, threshold=0.05, max_doc_freq=2)
    cut_rows = {(r.id_a, r.id_b): r.jaccard for r in cut.collect()}
    assert (1, 2) in cut_rows, "true near-dup lost by the stop-shingle cut"
    assert all(p == (1, 2) for p in cut_rows), (
        f"boilerplate-only pairs survived the cut: {set(cut_rows)}"
    )
    # lower bound: reported jaccard <= exact jaccard for the same pair
    exact_12 = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}[(1, 2)]
    assert cut_rows[(1, 2)] <= exact_12 + 1e-12


def _guard_vec(i, jitter=0.0):
    # deterministic pseudo-random 8-dim vector; period 19 in i
    return [((i * 37 + j * 11) % 19 - 9) / 9.0 + 0.05 + jitter for j in range(8)]


@pytest.fixture(scope="module")
def skewed_blocks(spark):
    """One oversized block (label 0: 80 rows, 40 planted near-dup
    pairs) + one bounded block (label 1: 3 rows, 1 near-dup pair)."""
    rows = [(i, _guard_vec(i), 0) for i in range(40)]
    rows += [(i + 1000, _guard_vec(i, jitter=0.001), 0) for i in range(40)]
    rows += [
        (2001, _guard_vec(101), 1),
        (2002, _guard_vec(101, jitter=0.001), 1),
        (2003, _guard_vec(55), 1),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).persist()


def test_embedding_near_dup_block_guard_raises(skewed_blocks):
    """A skewed block must fail loudly (like connected_components'
    non-convergence), never silently go quadratic."""
    from kafka_streams_clojure_spark.operators.similarity import (
        embedding_cosine_near_dups,
    )

    with pytest.raises(RuntimeError, match="max_block"):
        embedding_cosine_near_dups(skewed_blocks, max_block=50, threshold=0.99)


def test_embedding_near_dup_block_guard_lsh_fallback(skewed_blocks):
    """on_oversize='lsh': bounded blocks keep the exact path, the
    oversized block routes through lsh_cosine_pairs — planted pairs
    recovered, blocking semantics preserved (no cross-block pairs)."""
    from kafka_streams_clojure_spark.operators.similarity import (
        embedding_cosine_near_dups,
    )

    got = embedding_cosine_near_dups(
        skewed_blocks, max_block=50, on_oversize="lsh", threshold=0.99, dim=8
    )
    pairs = {(int(r.id_a), int(r.id_b)) for r in got.collect()}
    assert (2001, 2002) in pairs, "exact path lost the bounded block's pair"
    planted = {(i, i + 1000) for i in range(40)}
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.9, f"LSH fallback recall too low: {recall:.2f}"
    big_ids = set(range(40)) | {i + 1000 for i in range(40)}
    small_ids = {2001, 2002, 2003}
    crossing = [p for p in pairs if (p[0] in big_ids) != (p[1] in big_ids)]
    assert not crossing, f"cross-block pairs violate blocking: {crossing[:5]}"


def test_shingle_sets_post_agg_union(spark):
    """shingle_sets' output contract: long docs get distinct
    k-shingles with the full set size, short (<= k tokens) docs get
    their whole text as ONE shingle with set_size 1, null-text docs get
    NO rows, and rows sharing an id share one set — checked by hand and
    against a pure-Python reference on the token-window edge cases. The
    plan has no window function and no pinned repartition."""
    from kafka_streams_clojure_spark.operators.dedup import shingle_sets

    rows = [
        (1, "a b c d e f"),          # 6 tokens -> 3 distinct 4-shingles
        (2, "x y"),                  # short -> one whole-text shingle
        (3, None),                   # null text -> no rows
        (4, "r r r r r r r"),        # repeated token -> 1 distinct shingle
    ]
    df = spark.createDataFrame(rows + _edge_docs(4), "doc_id long, text string")
    out = shingle_sets(df)
    _plan_has_no_token_shuffle(out)
    got = {(int(r.doc_id), int(r.set_size), r.shingle) for r in out.collect()}
    want = {
        (1, 3, "a b c d"),
        (1, 3, "b c d e"),
        (1, 3, "c d e f"),
        (2, 1, "x y"),
        (4, 1, "r r r r"),
    }
    assert {g for g in got if g[0] < 900} == want
    sets: dict[int, set[str]] = {}
    for i, text in rows + _edge_docs(4):
        if text is None:
            continue
        toks = _split_ref(text)
        starts = range(max(len(toks) - 4, 0) + 1)
        sets.setdefault(i, set()).update(" ".join(toks[p : p + 4]) for p in starts)
    ref = {(i, len(sh), w) for i, sh in sets.items() for w in sh}
    assert got == ref, f"diff: got-ref={got - ref}, ref-got={ref - got}"


def _edge_docs_dir(tmp_path, k: int) -> str:
    """A documents.parquet of :func:`_edge_docs` for the query keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*_edge_docs(k))
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    pq.write_table(table, tmp_path / "documents.parquet")
    return str(tmp_path)


def test_phrase_search_edge_docs(spark, tmp_path):
    """q_llm_phrase_search against a pure-Python reference on the
    token-window edge cases; its plan has no window function and no
    pinned repartition."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["q_llm_phrase_search"](spark, _edge_docs_dir(tmp_path, 2))
    _plan_has_no_token_shuffle(out)
    got = {int(r.doc_id): (int(r.n_hits), int(r.first_pos)) for r in out.collect()}
    hits: dict[int, list[int]] = {}
    for i, text in _edge_docs(2):
        if text is None:
            continue
        toks = _split_ref(text)
        for p in range(len(toks) - 1):
            if toks[p : p + 2] == ["table", "hash"]:
                hits.setdefault(i, []).append(p + 1)
    assert got == {i: (len(ps), min(ps)) for i, ps in hits.items()}
    assert got[906] == (100, 1) and got[903] == (1, 2)


def test_collocations_edge_docs(spark, tmp_path):
    """q_llm_collocations (top-20 lower-cased bigrams by lift, count
    floor 5) against a pure-Python reference on the token-window edge
    cases; its plan has no window function and no pinned
    repartition."""
    from collections import Counter

    import __spark_entry__ as entrymod

    out = entrymod.queries()["q_llm_collocations"](spark, _edge_docs_dir(tmp_path, 2))
    _plan_has_no_token_shuffle(out)
    got = [(r.w, r.w2, int(r.n_pair), r.lift) for r in out.collect()]
    pairs = []
    for _, text in _edge_docs(2):
        if text is not None:
            toks = _split_ref(text.lower())
            pairs += zip(toks, toks[1:])
    n_w = Counter(a for a, _ in pairs)
    n_w2 = Counter(b for _, b in pairs)
    ref = [
        (a, b, n, (float(n) * float(len(pairs))) / (float(n_w[a]) * float(n_w2[b])))
        for (a, b), n in Counter(pairs).items()
        if n >= 5
    ]
    ref.sort(key=lambda r: (-r[3], r[0], r[1]))
    assert got == ref[:20]


def test_cosine_prefilter_equivalence(emb, spark):
    """r12 optimization guard: the vectorized margin prefilter in
    `_blocked_all_pairs_cosine` must not change the chain's output —
    same pair SET and bit-identical fold cos_sim values as the bare
    join+fold form, on the fixture (threshold 0.25, the lowest any
    oracle caller uses) AND on planted vectors sitting exactly AT the
    threshold (the tie the margin exists to protect)."""
    from kafka_streams_clojure_spark.operators.similarity import (
        _blocked_all_pairs_cosine,
        cosine,
    )

    def bare(df, blk_col, threshold):
        a = df.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("v_a"),
            F.col(blk_col).alias("blk"),
        )
        b = df.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("v_b"),
            F.col(blk_col).alias("blk"),
        )
        return (
            a.join(b, "blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                cosine(F.col("v_a"), F.col("v_b")).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    got = {
        (int(r.id_a), int(r.id_b)): r.cos_sim
        for r in _blocked_all_pairs_cosine(
            emb, "vec_id", "embedding", F.col("label"), 0.25
        ).collect()
    }
    want = {
        (int(r.id_a), int(r.id_b)): r.cos_sim
        for r in bare(emb, "label", 0.25).collect()
    }
    assert got == want, (
        f"prefilter changed the fixture output: lost "
        f"{sorted(set(want) - set(got))[:5]}, gained "
        f"{sorted(set(got) - set(want))[:5]}"
    )

    # planted at-threshold ties: cos(a, b) = t EXACTLY in float for
    # a = e0, b = (t, sqrt(1-t^2), 0...) — the fold computes 0 + 1*t
    # and the einsum the same product; both must keep the pair.
    import math

    t = 0.25
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [t, math.sqrt(1 - t * t), 0.0, 0.0], 0),  # cos == t exactly
        (2, [0.0, 1.0, 0.0, 0.0], 0),  # cos(0,2) = 0 < t
        (3, [1.0, 1e-7, 0.0, 0.0], 0),  # cos(0,3) ~ 1
    ]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got_p = {
        (int(r.id_a), int(r.id_b)): r.cos_sim
        for r in _blocked_all_pairs_cosine(
            planted, "vec_id", "embedding", F.col("label"), t
        ).collect()
    }
    want_p = {
        (int(r.id_a), int(r.id_b)): r.cos_sim
        for r in bare(planted, "label", t).collect()
    }
    assert got_p == want_p
    assert (0, 1) in got_p, "at-threshold pair must survive the prefilter"


def test_pq_codes_shape_and_cardinality(emb):
    """PQ encoding: exactly m codes per vector, each drawn from the
    <=k cells of its subspace's codebook."""
    from kafka_streams_clojure_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    books = pq_codebooks(emb, m=8, k=16, iters=2).persist()
    codes = pq_encode(emb, books)
    assert codes.groupBy("vec_id").count().filter("count != 8").count() == 0
    assert (
        codes.groupBy("sub")
        .agg(F.countDistinct("code").alias("c"))
        .filter(F.col("c") > 16)
        .count()
        == 0
    )
    books.unpersist()


def test_pq_topk_own_code_optimality_and_planted_dup(emb, spark):
    """Two PQ/ADC invariants: (1) a probe's own reconstruction is the
    per-subspace nearest centroid, so no corpus vector can have a
    strictly smaller ADC distance — the probe itself MUST rank 1
    (min-id tiebreak). (2) An exact duplicate has identical codes →
    bit-identical ADC distance (decimal-summed), and must appear in
    the top-k next to the probe."""
    from kafka_streams_clojure_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    base = emb.filter(F.col("vec_id") < 5)
    dups = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dups)
    books = pq_codebooks(emb, m=8, k=16, iters=2).persist()
    top = pq_topk(corpus, base, books, k=5)
    rows = top.collect()
    per_probe: dict = {}
    for r in rows:
        per_probe.setdefault(int(r.probe_id), []).append((int(r.vec_id), r.adc_d2))
    for p in range(5):
        got = per_probe[p]
        assert len(got) == 5, got
        assert got[0][0] == p or sorted(got, key=lambda t: (t[1], t[0]))[0][0] == p, (
            f"probe {p} did not rank itself first: {got}"
        )
        ids = {i for i, _ in got}
        assert p + 1_000_000 in ids, f"planted duplicate missing for probe {p}: {got}"
        d = dict(got)
        assert d[p] == d[p + 1_000_000], "identical codes must give identical ADC"
    books.unpersist()


def test_decode_bmp_8bpp_palette_resolved():
    """8-bpp BMPs resolve indices through the color table: two pixels
    with indices 0 and 1 whose palette entries are black and pure
    white must average to 127.5/255, NOT (0+1)/2/255."""
    import struct

    from kafka_streams_clojure_spark.operators.multimodal import decode_bmp

    width, height, n_colors = 2, 1, 2
    palette = bytes([0, 0, 0, 0]) + bytes([255, 255, 255, 0])  # black, white
    row = bytes([0, 1]) + b"\x00\x00"  # 2 indices + pad to 4
    data_off = 14 + 40 + len(palette)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(row), 2835, 2835, n_colors, 0
    )
    header = struct.pack("<2sIHHI", b"BM", data_off + len(row), 0, 0, data_off)
    blob = header + dib + palette + row
    w, h, c, luma = decode_bmp(blob)
    assert (w, h, c) == (2, 1, 1)
    assert luma == pytest.approx(127.5 / 255.0)


def test_centroid_scale_is_tie_free():
    """q_llm_label_centroids' oracle parity rests on DECIMAL(28,8)
    never hitting an exact rounding tie: Spark rounds half-UP, DuckDB
    half-EVEN, and they disagree exactly on floats whose binary
    fraction terminates at 9 bits (decimal expansion of exactly 9
    fractional digits ending in 5). No fixture element has 9
    fractional bits today; if this test ever fails after a fixture
    regeneration, move the key's cast (BOTH engines) to a scale s
    where no element has s+1 fractional digits."""
    from decimal import Decimal

    import numpy as np

    import duckdb

    for sf in ["0.001", "0.01", "0.1"]:
        df = duckdb.sql(
            f"SELECT embedding FROM read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"
        ).df()
        vals = np.unique(np.concatenate(df["embedding"].values))
        ties = [
            float(v)
            for v in vals
            if -Decimal(float(v)).normalize().as_tuple().exponent == 9
        ]
        assert not ties, (
            f"sf{sf}: {len(ties)} embedding element(s) are exact decimal(…,8) "
            f"rounding ties (9 fractional digits), e.g. {ties[:3]} — "
            "q_llm_label_centroids' scale must move off 8"
        )


def test_resize_bmp_nearest_neighbor_exact():
    """2x decimation of a known 4x2 image keeps exactly pixels (0,0)
    and (2,0) of the top row — bit-exact BGR triples, ceil'd dims."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_bmp,
        _bmp_pixel_rows,
    )

    # 4x2, pixel (x,y) has bytes (10x+y, 100+x, 200+y) — all distinct
    rows = []
    for y in range(2):
        row = b"".join(
            bytes([10 * x + y, 100 + x, 200 + y]) for x in range(4)
        )
        rows.append(row)
    blob = encode_bmp(b"".join(rows), 4, 2)
    out = resize_bmp(blob, 2)
    w, h, kept = _bmp_pixel_rows(out)
    assert (w, h) == (2, 1)
    assert kept[0] == bytes([0, 100, 200]) + bytes([20, 102, 200])
    # decoded aggregate agrees with the kept bytes
    _, _, _, luma = decode_bmp(out)
    assert luma == (0 + 100 + 200 + 20 + 102 + 200) / 6 / 255.0
    # factor 3 on width 4 -> ceil(4/3)=2 columns (x=0,3)
    out3 = resize_bmp(blob, 3)
    w3, h3, kept3 = _bmp_pixel_rows(out3)
    assert (w3, h3) == (2, 1)
    assert kept3[0] == bytes([0, 100, 200]) + bytes([30, 103, 200])


def test_sample_wav_frames_strided_exact(spark):
    """Every stride-th signed sample comes back with its frame index."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        sample_wav_frames,
        text_to_wav_blobs,
    )

    df = spark.createDataFrame([(1, "abcdefghij")], "doc_id long, text string")
    out = sample_wav_frames(text_to_wav_blobs(df), "blob", stride=4)
    rows = {r.frame_idx: r.amplitude for r in out.collect()}
    assert set(rows) == {0, 4, 8}
    assert rows[0] == (ord("a") - 128) * 256
    assert rows[4] == (ord("e") - 128) * 256
    assert rows[8] == (ord("i") - 128) * 256


def test_resize_bmp_all_small_geometries():
    """Exhaustive small-geometry sweep (incl. widths whose rows need
    BMP 4-byte stride padding): decimation equals the pure-Python
    reference subsample for every (w, h, factor) in range."""
    from kafka_streams_clojure_spark.operators.multimodal import (
        _bmp_pixel_rows,
        encode_bmp,
        resize_bmp,
    )

    for w in range(1, 6):
        for h in range(1, 5):
            pixels = bytes((i * 7 + 3) % 256 for i in range(w * h * 3))
            blob = encode_bmp(pixels, w, h)
            for f in range(1, 4):
                out = resize_bmp(blob, f)
                nw, nh, rows = _bmp_pixel_rows(out)
                assert nw == -(-w // f) and nh == -(-h // f)
                expect = []
                for y in range(0, h, f):
                    row = b"".join(
                        pixels[(y * w + x) * 3 : (y * w + x) * 3 + 3]
                        for x in range(0, w, f)
                    )
                    expect.append(row)
                assert rows == expect, (w, h, f)


def test_containment_stop_shingle_cut(spark):
    """containment's max_doc_freq mirrors jaccard's: boilerplate-only
    pairs drop, the true contained pair survives, and its reported
    containment (counted over rare shingles, divided by the FULL set
    size) is a lower bound of the uncapped score."""
    from kafka_streams_clojure_spark.operators.dedup import ngram_containment_pairs

    boiler = "copyright footer terms apply all rights reserved"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"alpha beta gamma delta epsilon zeta extra words here {boiler}"),
        (3, f"one two three four five six {boiler}"),
        (4, f"seven eight nine ten eleven twelve {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.id_a, r.id_b): r.cont_a
        for r in ngram_containment_pairs(df, k=3, threshold=0.05).collect()
    }
    assert (1, 3) in exact or (3, 4) in exact  # boilerplate connects all

    cut = {
        (r.id_a, r.id_b): r.cont_a
        for r in ngram_containment_pairs(
            df, k=3, threshold=0.05, max_doc_freq=2
        ).collect()
    }
    assert (1, 2) in cut, "true contained pair lost by the stop-shingle cut"
    assert set(cut) == {(1, 2)}, f"boilerplate-only pairs survived: {set(cut)}"
    assert cut[(1, 2)] <= exact[(1, 2)] + 1e-12


def test_triangle_stats_normalizes_raw_edges(spark):
    """Mirrored, duplicated, and self-loop edge rows must collapse:
    both-direction (1,2)/(2,1) plus a duplicate is ONE edge (degree 1
    each, clustering NULL); a true triangle counts once per vertex."""
    from kafka_streams_clojure_spark.operators.graph import triangle_stats

    raw = spark.createDataFrame(
        [
            (1, 2), (2, 1), (1, 2),   # one edge, three raw rows
            (3, 3),                   # self-loop: dropped
            (4, 5), (5, 6), (6, 4),   # triangle
        ],
        "id_a long, id_b long",
    )
    out = {r.doc_id: r for r in triangle_stats(raw).collect()}
    assert set(out) == {1, 2, 4, 5, 6}
    assert out[1].degree == 1 and out[1].n_triangles == 0
    assert out[1].clustering is None
    assert out[2].degree == 1
    for v in (4, 5, 6):
        assert out[v].degree == 2 and out[v].n_triangles == 1
        assert out[v].clustering == 1.0


def test_passage_dedup_hashed_matches_string_probe(spark, sf_dir):
    """The rows-only gate for q_llm_passage_dedup_hashed (r5 verdict
    #5): the xxhash64-probe production path must produce EXACTLY the
    string-probe (oracle-gated) output — same survivors, same
    reassembled clean_text, same counts."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    a = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
        for r in q["q_llm_passage_dedup"](spark, sf_dir).collect()
    }
    b = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
        for r in q["q_llm_passage_dedup_hashed"](spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# sf-scaled containment + recall gates for the ROWS-ONLY near-dup keys
# (r5 verdict #4). These run against the sf_dir fixture, so the sf0.1
# sweep (SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1, see the verify
# skill) exercises them at the density where near-dup bugs actually
# live; the default sf0.001 run keeps them as fast smoke checks. All
# hash paths are deterministic (fixed-seed xxhash64), so outcomes are
# reproducible per fixture — a pass at sf0.1 is a stable gate, not a
# coin flip.
# ---------------------------------------------------------------------------


def _registered(name):
    import __spark_entry__ as entrymod

    return entrymod.queries()[name]


def test_sf_gate_near_dup_contained_and_recall(spark, sf_dir, docs):
    """q_llm_near_dup (MinHash est-Jaccard >= 0.5): every emitted pair
    must be a REAL near-dup (exact 4-gram Jaccard >= 0.3 — est 0.5
    with 32 hashes can sit ~2σ below the true value, never 0.2 below
    on this fixture), and recall over the exact >= 0.8 pair set must
    hold the pinned 0.9 floor."""
    emitted = {
        (int(r.id_a), int(r.id_b))
        for r in _registered("q_llm_near_dup")(spark, sf_dir).collect()
    }
    exact03 = {
        (int(r.id_a), int(r.id_b)): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=4, threshold=0.3).collect()
    }
    stray = emitted - set(exact03)
    assert not stray, f"emitted pairs below exact j=0.3: {sorted(stray)[:5]}"
    exact08 = {p for p, j in exact03.items() if j >= 0.8}
    assert exact08, "fixture should contain exact j>=0.8 near-dups"
    recall = len(exact08 & emitted) / len(exact08)
    assert recall >= 0.9, f"recall {recall:.3f} over {len(exact08)} pairs"


def test_sf_gate_simhash_contained_in_true_hamming(spark, sf_dir, docs):
    """q_llm_simhash: (a) every emitted pair's reported hamming matches
    an independent recomputation from the signature table and is <= 3;
    (b) brute-force over ALL signature pairs: the banded blocking loses
    NOTHING (pigeonhole: 3 flipped bits cannot touch all four 16-bit
    bands) — emitted == the true hamming<=3 set exactly."""
    import numpy as np

    from kafka_streams_clojure_spark.operators.dedup import simhash_signatures

    emitted = {
        (int(r.id_a), int(r.id_b)): int(r.hamming)
        for r in _registered("q_llm_simhash")(spark, sf_dir).collect()
    }
    sigs = {
        int(r.doc_id): int(r.simhash)
        for r in simhash_signatures(docs).collect()
    }
    for (a, b), h in emitted.items():
        true_h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        assert true_h == h <= 3, (a, b, h, true_h)
    ids = np.array(sorted(sigs), dtype=np.int64)
    # signatures are signed int64 on the Spark side — REINTERPRET the
    # bits as uint64 (a signed->unsigned value cast of a negative
    # signature is a numpy DeprecationWarning and not what XOR wants)
    vec = np.array([sigs[i] for i in ids], dtype=np.int64).view(np.uint64)
    table = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    true_pairs = set()
    for s in range(0, len(vec), 512):
        x = vec[s : s + 512, None] ^ vec[None, :]
        pc = table[x.view(np.uint8).reshape(x.shape[0], x.shape[1], 8)].sum(axis=2)
        ii, jj = np.nonzero(pc <= 3)
        for i, j in zip(ii, jj):
            ga, gb = int(ids[s + i]), int(ids[j])
            if ga < gb:
                true_pairs.add((ga, gb))
    assert set(emitted) == true_pairs, (
        f"banded set != brute-force set: missing "
        f"{sorted(true_pairs - set(emitted))[:5]}, extra "
        f"{sorted(set(emitted) - true_pairs)[:5]}"
    )


def test_sf_gate_cosine_ann_contained_and_natural_recall(spark, sf_dir, emb):
    """q_llm_cosine_ann (sign-LSH, exact-cosine verify, threshold
    0.4): every emitted pair's cosine really is >= 0.4 (recomputed in
    numpy float64 from the raw vectors — independent of the engine's
    fold), and recall over the brute-force >= 0.4 pair set holds the
    pinned NATURAL-density floor. With 1-bit multi-probe (r7) the
    6-plane × 8-table geometry predicts ≈93% and measures 0.86-0.92
    across the fixture SFs; pin 0.7 as the regression floor — losing
    the multi-probe drops it to ~0.4, a geometry regression like r4's
    12-plane bug to ~0.02, both far below."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([int(r.vec_id) for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    hi = cos[iu] >= 0.4
    order = np.argsort(ids)
    exact = set()
    for i, j in zip(iu[0][hi], iu[1][hi]):
        a, b = int(ids[i]), int(ids[j])
        exact.add((min(a, b), max(a, b)))
    emitted = {
        (int(r.id_a), int(r.id_b))
        for r in _registered("q_llm_cosine_ann")(spark, sf_dir).collect()
    }
    id_pos = {int(v): k for k, v in enumerate(ids)}
    for a, b in emitted:
        c = float(cos[id_pos[a], id_pos[b]])
        assert c >= 0.4 - 1e-9, (a, b, c)
    assert exact, "fixture should contain cosine>=0.4 pairs"
    recall = len(exact & emitted) / len(exact)
    assert recall >= 0.7, f"natural ANN recall {recall:.3f} over {len(exact)} pairs"


def test_binary_ingest_roundtrips_blob_digests(spark, sf_dir, docs):
    """The rows-only gate for q_multimodal_binary_ingest: the manifest
    read back through the binaryFile source must carry EXACTLY the
    in-plan blob digests — every doc present once, same byte length,
    same md5 (file write + filesystem read lose nothing)."""
    import __spark_entry__ as entrymod

    from kafka_streams_clojure_spark.operators.multimodal import (
        attach_media,
        text_to_bmp_blobs,
    )

    expected = {
        r.doc_id: (r.media_meta.n_bytes, r.media_meta.checksum)
        for r in attach_media(
            text_to_bmp_blobs(docs), "blob", "image", "bmp"
        ).collect()
    }
    got = {
        r.doc_id: (r.n_bytes, r.checksum)
        for r in entrymod.queries()["q_multimodal_binary_ingest"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_winnowing_guarantee_and_recall(spark, docs, sf_dir):
    """Winnowing invariants: (a) planted EXACT duplicates share every
    fingerprint (identical shingle hashes → identical window minima),
    so each planted pair appears with n_shared = its fp count; (b) the
    candidate set recovers the fixture's strong near-dups (exact
    4-gram Jaccard >= 0.8) with high recall — their long shared word
    runs must leave shared window minima (the >= k+w-1 run guarantee)."""
    from kafka_streams_clojure_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    planted = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(planted)
    fps = winnowing_fingerprints(corpus, k=4, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(int(r.doc_id), set()).add(int(r.fp))
    for i in range(10):
        assert by_doc[i] == by_doc[i + 1_000_000], f"planted dup {i} diverged"
        assert len(by_doc[i]) >= 1

    import __spark_entry__ as entrymod

    cand = {
        (int(r.id_a), int(r.id_b))
        for r in entrymod.queries()["q_llm_winnowing"](spark, sf_dir).collect()
    }
    exact08 = {
        (int(r.id_a), int(r.id_b))
        for r in ngram_jaccard_pairs(docs, k=4, threshold=0.8).collect()
    }
    assert exact08, "fixture should contain strong near-dups"
    recall = len(exact08 & cand) / len(exact08)
    assert recall >= 0.9, f"winnowing recall {recall:.2f} over {len(exact08)}"


def test_random_projection_preserves_distances_on_average(spark, emb, sf_dir):
    """The JL semantic claim (not just oracle parity): projected
    pairwise L2 distances estimate the originals. With out_dim=16 a
    single ratio has std ≈ sqrt(2/16) ≈ 0.35, but the MEAN ratio over
    many pairs concentrates near 1 (deterministic here: fixed matrix,
    fixed fixture). Scaling: E[||Px||²] = out_dim·||x||²/... — we use
    the empirical mean-ratio gate, which also catches a wrong matrix
    orientation or a dropped dimension."""
    import numpy as np

    from kafka_streams_clojure_spark.operators.similarity import (
        random_hyperplanes,
    )

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(60).collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    P = np.array(random_hyperplanes(64, 16, seed=7), dtype=np.float64)
    Y = X @ P.T
    # JL scaling: E[||Px||^2] = ||x||^2 * sum of plane norms / ...; for
    # Gaussian planes the unbiased distance estimate divides by
    # sqrt(out_dim) when planes are N(0,1): ||Px||^2 ~ ||x||^2 * 16
    ratios = []
    for i in range(0, 50):
        a, b = X[i], X[i + 5]
        pa, pb = Y[i], Y[i + 5]
        d0 = np.linalg.norm(a - b)
        d1 = np.linalg.norm(pa - pb) / np.sqrt(16.0)
        if d0 > 0:
            ratios.append(d1 / d0)
    m = float(np.mean(ratios))
    assert 0.8 <= m <= 1.2, m
    # and the ENGINE's projection matches the numpy reference exactly
    # (same matrix, same fold inputs; fold vs BLAS differ only in
    # accumulation order — allow 1e-9)
    got = {
        (r.vec_id, r.dim): r.value
        for r in _registered("q_llm_random_projection")(
            spark, sf_dir
        ).collect()
    }
    ids = [int(r.vec_id) for r in rows]
    for row_i, vid in enumerate(ids[:10]):
        for j in range(16):
            assert abs(got[(vid, j)] - Y[row_i, j]) < 1e-9, (vid, j)


def test_semdedup_drops_planted_semantic_dups(spark, emb, sf_dir):
    """SemDeDup invariants: (a) planted exact-copy vectors (cosine 1)
    are dropped in favor of their lower-id original — copies land in
    the SAME cell by construction (identical vectors, deterministic
    tie-break), so the cell blocking cannot hide them; (b) the
    registered key runs and keeps a sane survivor share; (c) survivors
    are unique ids."""
    from kafka_streams_clojure_spark.operators.similarity import semdedup

    planted = emb.filter(F.col("vec_id") < 15).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    corpus = emb.unionByName(planted)
    # both the pinned-k rehearsal control AND the adaptive (cells ∝
    # √corpus, in-plan) default must catch every planted copy
    for k_cells in (16, None):
        survivors = {
            int(r.vec_id) for r in semdedup(corpus, k_cells=k_cells).collect()
        }
        for i in range(15):
            assert i + 1_000_000 not in survivors, f"copy {i} survived k={k_cells}"
            assert i in survivors, f"original {i} dropped instead of copy k={k_cells}"

    out = _registered("q_llm_semdedup")(spark, sf_dir).collect()
    ids = [int(r.vec_id) for r in out]
    n_total = emb.count()
    assert len(ids) == len(set(ids))
    assert 0.5 * n_total <= len(ids) <= n_total


def test_semdedup_cells_scale_with_corpus(spark):
    """r7 verdict #1 (the one `weak` operator): the adaptive cell
    count must be derived in-plan ∝ √corpus — cells VARY with the SF
    instead of the old pinned k_cells=16, so at 100 TB the max_block
    guard only trips on genuine skew, never on corpus growth. Checks
    every fixture SF: survivor cell count lands within [√N/3, 3√N]
    and strictly grows from the 500-row to the 2000-row corpus."""
    import math

    from kafka_streams_clojure_spark.operators.similarity import semdedup
    from kafka_streams_clojure_spark.queries._util import load_table

    n_cells: dict[str, int] = {}
    for sf in ("0.001", "0.01", "0.1"):
        emb = load_table(spark, f"/root/testdata/sf{sf}", "embeddings")
        out = semdedup(emb, iters=1).select("cell").distinct().collect()
        n = emb.count()
        root = math.sqrt(n)
        assert root / 3 <= len(out) <= 3 * root, (sf, n, len(out))
        n_cells[sf] = len(out)
    assert n_cells["0.1"] > n_cells["0.001"], n_cells


def test_semdedup_multiprobe_superset_and_catches_near_copies(spark):
    """n_probe=2 SemDeDup: (a) drops a SUPERSET of single-probe drops
    (more blocking can only add collisions); (b) every planted
    perturbed near-copy (cosine ~1 with its source) is dropped even
    when a Voronoi boundary might separate primary cells; (c) survivor
    labels stay the primary cell (one row per survivor)."""
    import numpy as np
    import pandas as pd

    from kafka_streams_clojure_spark.operators.similarity import semdedup

    rng = np.random.default_rng(11)
    base = rng.standard_normal((120, 64)).astype(np.float32)
    rows = [(i, list(map(float, base[i]))) for i in range(120)]
    # perturbed near-copies (cos >= ~0.999) of the first 20 vectors
    for i in range(20):
        v = base[i] + 0.005 * rng.standard_normal(64).astype(np.float32)
        rows.append((1_000 + i, list(map(float, v))))
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        "vec_id long, embedding array<float>",
    )
    single = {int(r.vec_id) for r in semdedup(corpus, n_probe=1).collect()}
    multi = semdedup(corpus, n_probe=2).collect()
    multi_ids = [int(r.vec_id) for r in multi]
    assert set(multi_ids) <= single  # superset of drops = subset of survivors
    for i in range(20):
        assert 1_000 + i not in multi_ids, f"near-copy {i} survived n_probe=2"
        assert i in multi_ids, f"original {i} dropped instead of its near-copy"
    assert len(multi_ids) == len(set(multi_ids))


def test_ivfpq_self_retrieval_and_cell_pruning(emb, spark):
    """IVF-PQ invariants: (a) a probe drawn from the corpus retrieves
    ITSELF at rank 1 (its ADC distance is pure quantization error,
    minimal on a near-orthogonal fixture); (b) planted exact copies of
    the probes surface in the top-k (identical vector → identical cell
    and codes → identical ADC distance); (c) every returned candidate
    lies in one of the probe's n_probe nearest coarse cells — the
    structural proof that the inverted file actually pruned."""
    from kafka_streams_clojure_spark.operators.similarity import (
        _assign_cells,
        ivfpq_topk,
        kmeans_centroids,
    )

    planted = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    corpus = emb.unionByName(planted)
    probes = emb.filter(F.col("vec_id") < 3)
    cents = kmeans_centroids(corpus, k=None, iters=2).persist()
    out = ivfpq_topk(corpus, probes, k=5, n_probe=4, coarse=cents).collect()
    by_probe: dict = {}
    for r in out:
        by_probe.setdefault(int(r.probe_id), []).append(
            (float(r.adc_d2), int(r.vec_id))
        )
    for p in range(3):
        ranked = sorted(by_probe[p])
        ids = [i for _, i in ranked]
        assert ranked[0][1] in (p, p + 1_000_000), (p, ranked)  # self or its twin
        assert p in ids and p + 1_000_000 in ids, (p, ids)  # twin surfaces
        # twin and self tie on ADC distance (identical codes)
        d_self = dict((i, d) for d, i in ranked)
        assert abs(d_self[p] - d_self[p + 1_000_000]) < 1e-12

    # (c) candidates ⊆ probed cells
    corpus_cells = {
        int(r.vec_id): int(r.cell)
        for r in _assign_cells(
            corpus.select("vec_id", "embedding"), cents, id_cols=["vec_id"]
        ).collect()
    }
    probe_cells: dict = {}
    for r in _assign_cells(
        probes.select("vec_id", "embedding"), cents, id_cols=["vec_id"], n_probe=4
    ).collect():
        probe_cells.setdefault(int(r.vec_id), set()).add(int(r.cell))
    for r in out:
        assert corpus_cells[int(r.vec_id)] in probe_cells[int(r.probe_id)], r
    cents.unpersist()


def test_ivfpq_registered_key_shape(spark, sf_dir):
    """The registered key returns 5 rows per probe, ascending ADC
    distance, unique candidates per probe."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q_llm_ivfpq_topk"](spark, sf_dir).collect()
    by_probe: dict = {}
    for r in rows:
        by_probe.setdefault(int(r.probe_id), []).append(r)
    assert set(by_probe) == set(range(5))
    for p, rs in by_probe.items():
        assert len(rs) == 5
        assert len({int(r.vec_id) for r in rs}) == 5
        ds = [float(r.adc_d2) for r in sorted(rs, key=lambda r: float(r.adc_d2))]
        assert all(d >= 0 for d in ds)


def test_lsh_buckets_arrow_matches_fold(emb):
    """The Arrow matrix-multiply bucket path (r8 perf rewrite) must
    produce the SAME buckets as the codegen-expressible per-plane fold
    (lsh_bucket) on the real fixture — the sign rule can only diverge
    on exact-zero dots, measure-zero for Gaussian planes; this pins
    that empirically for every (vector, table) on the fixture."""
    from kafka_streams_clojure_spark.operators.similarity import (
        _lsh_buckets_arrow,
        lsh_bucket,
        random_hyperplanes,
    )

    n_planes, n_tables, dim = 6, 8, 64
    fold_cols = [
        lsh_bucket(
            F.col("embedding"), random_hyperplanes(dim, n_planes, seed=42 + t)
        ).alias(f"f_{t}")
        for t in range(n_tables)
    ]
    arrow = _lsh_buckets_arrow(dim, n_planes, n_tables)(F.col("embedding"))
    rows = emb.select("vec_id", arrow.alias("a"), *fold_cols).collect()
    for r in rows:
        for t in range(n_tables):
            assert int(r.a[t]) == int(r[f"f_{t}"]), (int(r.vec_id), t)


def test_ivfpq_serve_matches_retrain(spark, sf_dir):
    """Index-reuse serving invariant (r8 verdict #2): `q_llm_ivfpq_serve`
    trains once, round-trips the three index tables through parquet
    (codes partitioned by coarse cell), and serves three probe batches —
    each batch's results must be IDENTICAL to the retrain-per-call
    `ivfpq_topk` on the same probes, because training is deterministic
    on a fixed corpus and the parquet round-trip is the only new moving
    part (doubles are binary-exact in parquet; the ADC sum is decimal)."""
    import __spark_entry__ as entrymod
    from kafka_streams_clojure_spark.operators.similarity import ivfpq_topk
    from kafka_streams_clojure_spark.queries._util import load_table

    served = entrymod.queries()["q_llm_ivfpq_serve"](spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    for lo, hi, tag in [(0, 5, 0), (5, 10, 1), (10, 15, 2)]:
        got = {
            (int(r.probe_id), int(r.vec_id)): float(r.adc_d2)
            for r in served
            if int(r.batch) == tag
        }
        probes = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        fresh = ivfpq_topk(emb, probes, k=5, n_probe=4, m=8, ks=16).collect()
        want = {
            (int(r.probe_id), int(r.vec_id)): float(r.adc_d2) for r in fresh
        }
        assert got.keys() == want.keys(), (tag, got.keys() ^ want.keys())
        for key in got:
            assert abs(got[key] - want[key]) < 1e-12, (tag, key)


def test_multimodal_near_dup_planted_resize(spark, sf_dir):
    """Perceptual-hash near-dup invariants (r8 verdict #3): (a) the
    decimation-aligned geometry makes dHash EXACTLY scale-invariant —
    every original/2×-resized blob pair hashes identically (checked at
    the operator level, real codec both sides); (b) therefore the
    registered key surfaces every planted (doc_id, doc_id+10M) resize
    pair at hamming 0 — the duplicate class md5-exact dedup
    (q_multimodal_dedup) structurally misses."""
    import __spark_entry__ as entrymod
    from kafka_streams_clojure_spark.operators.multimodal import (
        dhash_bmp,
        gradient_bmp_blobs,
        resize_bmp,
    )
    from kafka_streams_clojure_spark.queries._util import load_table

    docs = load_table(spark, sf_dir, "documents")
    blobs = gradient_bmp_blobs(docs.limit(50)).collect()
    assert len(blobs) == 50
    for r in blobs:
        orig = bytes(r.blob)
        shrunk = resize_bmp(orig, 2)
        assert shrunk != orig  # bytes differ -> md5 dedup misses it
        assert dhash_bmp(shrunk) == dhash_bmp(orig)

    out = entrymod.queries()["q_multimodal_near_dup"](spark, sf_dir).collect()
    pairs = {(int(r.id_a), int(r.id_b)): int(r.hamming) for r in out}
    doc_ids = [int(r.doc_id) for r in docs.select("doc_id").collect()]
    for d in doc_ids:
        assert pairs.get((d, d + 10_000_000)) == 0, d


def test_bpe_merges_greedy_and_cascading(spark):
    """BPE training semantics on a hand-computed vocabulary:
    round 1 picks (a,b) at weighted count 5 over (a,a) at 4; round 2 is
    a 2-2 tie broken lexicographically to (a,a); round 3 merges the
    round-2 product with the round-1 product — cascading merges. The
    second vocabulary pins GREEDY-LEFTMOST merging: 'aaaa' under winner
    (a,a) becomes [aa, aa] (two non-overlapping merges) and 'aaa'
    becomes [aa, a], so round 2 counts (aa,aa)=1 and (aa,a)=1 and the
    lexicographic tie-break selects (aa, a) — an overlapping or
    rightmost merger would produce different counts."""
    from kafka_streams_clojure_spark.operators.text import bpe_merges

    words = spark.createDataFrame([("aaab", 2), ("ab", 3)], "w string, freq long")
    got = {
        int(r["round"]): (r.lhs, r.rhs, int(r.pair_count))
        for r in bpe_merges(words, rounds=3).collect()
    }
    assert got == {
        1: ("a", "b", 5),
        2: ("a", "a", 2),
        3: ("aa", "ab", 2),
    }

    runs = spark.createDataFrame([("aaaa", 1), ("aaa", 1)], "w string, freq long")
    got2 = {
        int(r["round"]): (r.lhs, r.rhs, int(r.pair_count))
        for r in bpe_merges(runs, rounds=2).collect()
    }
    assert got2 == {1: ("a", "a", 5), 2: ("aa", "a", 1)}


def test_substring_dedup_planted_runs(spark):
    """ExactSubstr-removal invariants (r8 verdict #6) on hand-built
    docs with globally-unique filler tokens: (a) a 12-token run shared
    doc1→doc2 is removed IN FULL from doc2 (the later copy) and kept in
    doc1 (keep-first); (b) a 5-token shared run (< min_run=8) survives
    both docs; (c) an intra-doc repeat of a 10-token run loses its
    second occurrence only."""
    from kafka_streams_clojure_spark.operators.dedup import substring_dedup
    from kafka_streams_clojure_spark.plans import physical_plan

    run12 = " ".join(f"r{i}" for i in range(12))
    run5 = " ".join(f"s{i}" for i in range(5))
    run10 = " ".join(f"q{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"a0 a1 a2 {run12} a3 a4"),
            (2, f"b0 b1 {run12} b2 b3 b4"),
            (3, f"c0 c1 {run5} c2"),
            (4, f"d0 {run5} d1 d2"),
            (5, f"e0 e1 {run10} e2 e3 {run10} e4"),
        ],
        "doc_id long, text string",
    )
    removal = substring_dedup(docs, k=3, min_run=8)
    plan = physical_plan(removal)
    assert "REPARTITION_BY_NUM" not in plan and "lead(" not in plan, plan
    out = {
        int(r.doc_id): (r.clean_text, int(r.n_removed), int(r.n_total))
        for r in removal.collect()
    }
    assert out[1] == (f"a0 a1 a2 {run12} a3 a4", 0, 17)
    assert out[2] == ("b0 b1 b2 b3 b4", 12, 17)
    assert out[3] == (f"c0 c1 {run5} c2", 0, 8)
    assert out[4] == (f"d0 {run5} d1 d2", 0, 8)
    assert out[5] == (f"e0 e1 {run10} e2 e3 e4", 10, 25)


def _ref_bpe(words, rounds):
    """Independent pure-Python BPE trainer (dict-based, no Spark):
    count desc + lexicographic (lhs, rhs) tie-break, greedy-leftmost
    non-overlapping merge — the property-test reference for
    operators/text.bpe_merges."""
    toks = {w: list(w) for w, _ in words}
    freqs = dict(words)
    merges = []
    for r in range(1, rounds + 1):
        cnt: dict = {}
        for w, syms in toks.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                cnt[p] = cnt.get(p, 0) + freqs[w]
        if not cnt:
            break
        (lhs, rhs), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, lhs, rhs, c))
        for w, syms in toks.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            toks[w] = out
    return merges, toks


def test_bpe_merges_matches_reference_property(spark):
    """Property test: the DataFrame BPE trainer must agree with an
    independent pure-Python implementation on adversarial small vocabs
    — repeated-symbol runs (greedy-leftmost), ties (lexicographic),
    merge products re-merging, words exhausting early, and the
    degenerate all-single-char corpus where a round has NO pairs left
    (the empty-winner left-join path). Vocab AND merge-table equality,
    deterministic seeds."""
    import random

    from kafka_streams_clojure_spark.operators.text import bpe_merges

    rng = random.Random(7)
    cases = [
        [("a", 3), ("b", 2)],                      # no pairs at all
        [("aaaa", 1), ("aa", 5)],                  # pure runs
        [("ab", 1), ("ba", 1), ("aa", 1)],         # 3-way tie
        [("abab", 2), ("baba", 2)],                # merge products re-merge
    ]
    for _ in range(6):
        n = rng.randint(2, 8)
        seen = set()
        vocab = []
        for _ in range(n):
            w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            if w not in seen:
                seen.add(w)
                vocab.append((w, rng.randint(1, 5)))
        cases.append(vocab)
    for vocab in cases:
        rounds = 4
        want_merges, want_toks = _ref_bpe(vocab, rounds)
        df = spark.createDataFrame(vocab, "w string, freq long")
        merges, t = bpe_merges(df, rounds=rounds, with_vocab=True)
        got_merges = sorted(
            (int(r["round"]), r.lhs, r.rhs, int(r.pair_count))
            for r in merges.collect()
        )
        assert got_merges == want_merges, (vocab, got_merges, want_merges)
        got_toks: dict = {}
        for r in t.orderBy("w", "pos").collect():
            got_toks.setdefault(r.w, []).append(r.sym)
        assert got_toks == want_toks, (vocab, got_toks, want_toks)


def test_bpe_driver_local_matches_distributed(monkeypatch, spark):
    """r12 driver-local BPE fast path: the distributed loop (forced via
    BPE_DRIVER_VOCAB_BOUND=0) must produce BIT-IDENTICAL merges, vocab
    and level stats — unlike the float k-means twin this family is
    all-integer/string, so equality is exact, and the oracle sweeps
    gate the same equality against DuckDB. Covers greedy runs, ties,
    cascading merge products and early pair exhaustion."""
    from kafka_streams_clojure_spark.operators import text as text_ops

    vocab = [("aaab", 2), ("ab", 3), ("aaaa", 1), ("xy", 4), ("q", 7)]
    df = spark.createDataFrame(vocab, "w string, freq long")
    # single-symbol vocabulary: no adjacent pair exists in ANY round, so
    # both paths hit the exhausted branch immediately (r12 advice: the
    # 5-word vocab at rounds=4 never exhausts — r4 still merges (aa,ab))
    df_exhausted = spark.createDataFrame(
        [("a", 3), ("b", 2)], "w string, freq long"
    )

    def snap(words, rounds=4):
        merges, voc = text_ops.bpe_merges(words, rounds=rounds, with_vocab=True)
        _, stats = text_ops.bpe_merges(words, rounds=rounds, with_level_stats=True)
        return (
            sorted(tuple(r) for r in merges.collect()),
            sorted(tuple(r) for r in voc.collect()),
            sorted(tuple(r) for r in stats.collect()),
            merges.schema.simpleString(),
            voc.schema.simpleString(),
            stats.schema.simpleString(),
        )

    local = snap(df)
    local_exhausted = snap(df_exhausted, rounds=2)
    monkeypatch.setattr(text_ops, "BPE_DRIVER_VOCAB_BOUND", 0)
    assert snap(df) == local
    assert snap(df_exhausted, rounds=2) == local_exhausted


def test_bpe_driver_local_skips_fractional_freq(monkeypatch, spark):
    """r12 advice: a Double freq column must NOT take the driver-local
    fast path (int(f) would truncate fractional weights and
    createDataFrame rejects ints for a Double vocab field) — the dtype
    gate routes it to the distributed loop, whose weighted counts
    handle any numeric freq. Pinned by checking the fractional weights
    actually influence the winner the way only exact double sums can."""
    from kafka_streams_clojure_spark.operators import text as text_ops

    # (b,c) at 1.9 beats (a,a) at 1.4 only under exact double sums; an
    # int(f)-truncating trainer sees a 1-1 tie and picks (a,a)
    dbl = spark.createDataFrame(
        [("aa", 1.4), ("bc", 1.9)], "w string, freq double"
    )
    got = {
        int(r["round"]): (r.lhs, r.rhs)
        for r in text_ops.bpe_merges(dbl, rounds=1).collect()
    }
    assert got[1] == ("b", "c")
    # and the gate alone (not the bound) is what routed it: same result
    # with the fast path force-disabled
    monkeypatch.setattr(text_ops, "BPE_DRIVER_VOCAB_BOUND", 0)
    got2 = {
        int(r["round"]): (r.lhs, r.rhs)
        for r in text_ops.bpe_merges(dbl, rounds=1).collect()
    }
    assert got2 == got


def test_substring_dedup_hashed_matches_string(spark, sf_dir):
    """The xxhash64-keyed occurrence shuffle (8 bytes/row wire shape)
    must produce output IDENTICAL to the oracle-gated string-keyed twin
    on the fixtures — the passage_dedup_hashed equivalence discipline."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    want = {
        int(r.doc_id): (r.clean_text, int(r.n_removed), int(r.n_total))
        for r in qs["q_llm_substring_dedup"](spark, sf_dir).collect()
    }
    got = {
        int(r.doc_id): (r.clean_text, int(r.n_removed), int(r.n_total))
        for r in qs["q_llm_substring_dedup_hashed"](spark, sf_dir).collect()
    }
    assert got == want


def test_isotropy_gram_identity_matches_pair_join(spark, sf_dir):
    """q_llm_isotropy's one-pass Gram-sum identity equals the brute
    N² pair mean computed directly on the quantized vectors (the
    definition it replaces), and the gaussian fixture is near-isotropic
    (ratio ≈ 0, far from collapse)."""
    import math

    from kafka_streams_clojure_spark.queries.llm import q_llm_isotropy
    from kafka_streams_clojure_spark.queries._util import load_table

    row = q_llm_isotropy(spark, sf_dir).collect()[0]

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = [r.embedding for r in emb.select("embedding").collect()]
    gmax = max(abs(float(c)) for v in vecs for c in v)
    q = [[math.floor(float(c) / gmax * 127.0) for c in v] for v in vecs]
    n = len(q)
    sums = [sum(col) for col in zip(*q)]
    ssq = sum(c * c for v in q for c in v)
    brute_pair = (sum(s * s for s in sums) - ssq) / (n * (n - 1))
    assert row.n_vecs == n
    assert row.mean_pair_dot_q == pytest.approx(brute_pair, rel=1e-12)
    assert row.mean_sq_norm_q == pytest.approx(ssq / n, rel=1e-12)
    # gaussian cloud: mean pairwise similarity is a rounding error of
    # the mean norm — nowhere near directional collapse
    assert abs(row.isotropy_ratio) < 0.05


def test_dedup_threshold_curve_is_monotone(spark, sf_dir):
    """Raising the Jaccard cut can only shrink the pair set and the
    flagged-doc set; the 0.5 point must agree with the registered
    capped-Jaccard key it slices."""
    from kafka_streams_clojure_spark.queries.llm import (
        q_llm_dedup_threshold_curve,
        q_llm_ngram_jaccard_capped,
    )

    curve = {
        r.t10: (r.n_pairs, r.n_docs_flagged)
        for r in q_llm_dedup_threshold_curve(spark, sf_dir).collect()
    }
    ts = sorted(curve)
    for lo, hi in zip(ts, ts[1:]):
        assert curve[lo][0] >= curve[hi][0]
        assert curve[lo][1] >= curve[hi][1]
    at_05 = q_llm_ngram_jaccard_capped(spark, sf_dir)
    assert curve[5][0] == at_05.count()
    assert curve[5][1] == at_05.select("id_b").distinct().count()


def test_multimodal_audio_near_dup_planted_transcode(spark, sf_dir):
    """Audio perceptual-hash invariants (the eHash twin of the image
    test above): (a) the even segment length makes every eHash grid
    point survive a 2× stride, so each original/decimated WAV pair
    hashes identically at the operator level (real codec both sides,
    bytes differ); (b) the registered key surfaces every planted
    (doc_id, doc_id+10M) transcode pair at hamming 0."""
    import __spark_entry__ as entrymod
    from kafka_streams_clojure_spark.operators.multimodal import (
        ehash_wav,
        stepped_wav_blobs,
    )
    from kafka_streams_clojure_spark.queries._util import load_table
    import io
    import struct
    import wave

    docs = load_table(spark, sf_dir, "documents")
    blobs = stepped_wav_blobs(docs.limit(50)).collect()
    assert len(blobs) == 50
    for r in blobs:
        orig = bytes(r.blob)
        with wave.open(io.BytesIO(orig)) as w:
            n = w.getnframes()
            raw = w.readframes(n)
        kept = struct.unpack(f"<{n}h", raw)[::2]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{len(kept)}h", *kept))
        transcoded = buf.getvalue()
        assert transcoded != orig  # bytes differ -> md5 dedup misses it
        assert ehash_wav(transcoded) == ehash_wav(orig)

    out = entrymod.queries()["q_multimodal_audio_near_dup"](
        spark, sf_dir
    ).collect()
    pairs = {(int(r.id_a), int(r.id_b)): int(r.hamming) for r in out}
    doc_ids = [int(r.doc_id) for r in docs.select("doc_id").collect()]
    for d in doc_ids:
        assert pairs.get((d, d + 10_000_000)) == 0, d


def test_dsir_hashed_matches_word_twin(spark, sf_dir):
    """The rows-only gate for q_llm_dsir_select_hashed: (a) prove the
    fixture vocabulary is collision-free under xxhash64 % 2^20 (if this
    ever fails the fixture grew past the bucket space — widen it);
    (b) then the hashed wire path must emit EXACTLY the word-keyed
    (oracle-gated) twin's top-20."""
    import __spark_entry__ as entrymod
    from kafka_streams_clojure_spark.queries._util import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).distinct()
    n_words = toks.count()
    n_buckets = (
        toks.select((F.xxhash64("w") % F.lit(1 << 20)).alias("h"))
        .distinct()
        .count()
    )
    assert n_words == n_buckets, "hash collision on fixture vocabulary"

    q = entrymod.queries()
    a = [
        (r.doc_id, r.affinity, r.n_tokens)
        for r in q["q_llm_dsir_select"](spark, sf_dir).collect()
    ]
    b = [
        (r.doc_id, r.affinity, r.n_tokens)
        for r in q["q_llm_dsir_select_hashed"](spark, sf_dir).collect()
    ]
    assert a == b and len(a) == 20


def test_top_direction_matches_reference_and_bounds(spark, sf_dir):
    """q_llm_top_direction invariants: (a) the Spark plan reproduces an
    independent Python run of the SAME integer algorithm bit-for-bit;
    (b) the Rayleigh quotient is a valid lower bound on numpy's true
    top eigenvalue of C = QᵀQ and positive; (c) the share sits in
    (0, 1] and, on the near-isotropic gaussian fixture, well below the
    collapse regime."""
    import math

    import numpy as np

    from kafka_streams_clojure_spark.queries.llm import q_llm_top_direction
    from kafka_streams_clojure_spark.queries._util import load_table

    row = q_llm_top_direction(spark, sf_dir).collect()[0]

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = [r.embedding for r in emb.select("embedding").collect()]
    gmax = max(abs(float(c)) for v in vecs for c in v)
    Q = np.array(
        [[math.floor(float(c) / gmax * 127.0) for c in v] for v in vecs],
        dtype=object,  # exact integer arithmetic, no int64 overflow
    )
    s = Q.sum(axis=1)
    v1 = (Q * s[:, None]).sum(axis=0)
    # both engines' integer division TRUNCATES toward zero (Spark `div`,
    # DuckDB `//`) — Python's // floors, so mirror the truncation
    w = np.array(
        [int(x) // 4096 if x >= 0 else -((-int(x)) // 4096) for x in v1],
        dtype=object,
    )
    t = (Q * w[None, :]).sum(axis=1)
    v2 = (Q * t[:, None]).sum(axis=0)
    num = int((w * v2).sum())
    den = int((w * w).sum())
    trace = int((Q * Q).sum())
    assert den > 0
    lam_ref = float(num) / float(den)
    assert row.lambda1_rayleigh == pytest.approx(lam_ref, rel=1e-12)
    assert row.top_dir_share == pytest.approx(lam_ref / trace, rel=1e-12)

    # numpy float eig as the mathematical bound (C is PSD)
    C = np.array(Q.tolist(), dtype=float)
    lam_true = float(np.linalg.eigvalsh(C.T @ C).max())
    assert 0 < row.lambda1_rayleigh <= lam_true * (1 + 1e-9)
    assert 0 < row.top_dir_share <= 1
    assert row.top_dir_share < 0.5  # gaussian fixture: no collapse


# --- content-defined chunking (q_llm_cdc_chunks) -------------------------


def test_cdc_catches_shifted_duplicate(spark):
    """THE invariant CDC exists for: a byte-INSERTION at the front of a
    copied document shifts every position-fixed shingle (exact dedup and
    fixed-window fingerprints see two unrelated docs) but realigns CDC
    chunk boundaries within one hash window — so the shifted copy's
    chunks mostly re-match the original's and keep-first flags them."""
    from kafka_streams_clojure_spark.operators.dedup import (
        cdc_chunk_table,
        cdc_dedup_report,
    )

    # deterministic pseudo-text, long enough for ~15 chunks
    base = " ".join(f"tok{i * 7 % 97}word{i * 13 % 89}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "xyz " + base),  # shifted duplicate: 4-char prefix insertion
            (3, " ".join(f"other{i * 11 % 83}" for i in range(60))),
        ],
        "doc_id bigint, text string",
    )
    rep = {r["doc_id"]: r for r in cdc_dedup_report(docs).collect()}
    # the shifted copy re-matches most of its chars (keep-first: doc 1
    # is canonical, doc 2 carries the duplication)
    assert rep[2]["dup_char_frac"] > 0.5, rep[2]
    # the unrelated doc shares nothing
    assert rep[3]["n_dup_chunks"] == 0
    # chunk-level view: beyond the first boundary after the insertion,
    # doc 2's chunk hashes are a subset re-match of doc 1's
    ch = cdc_chunk_table(docs).collect()
    h1 = {r["chunk_hash"] for r in ch if r["doc_id"] == 1}
    c2 = [r for r in ch if r["doc_id"] == 2]
    matched = sum(1 for r in c2 if r["chunk_hash"] in h1)
    assert matched >= len(c2) - 2, (matched, len(c2))


def test_cdc_chunks_partition_the_document(spark):
    """Chunks tile each doc exactly: starts/lengths cover [1, len] with
    no gaps or overlaps, and every doc with text yields >= 1 chunk."""
    from kafka_streams_clojure_spark.operators.dedup import cdc_chunk_table

    docs = spark.createDataFrame(
        [(1, "short"), (2, "a" * 100), (3, "x y z " * 40), (4, "")],
        "doc_id bigint, text string",
    )
    rows = cdc_chunk_table(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 4 not in by_doc  # empty doc: no chunks
    for did, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_start"])
        assert chunks[0]["chunk_start"] == 1
        for a, b in zip(chunks, chunks[1:]):
            assert a["chunk_start"] + a["chunk_len"] == b["chunk_start"]
        total = sum(c["chunk_len"] for c in chunks)
        text = {1: "short", 2: "a" * 100, 3: "x y z " * 40}[did]
        assert total == len(text)


def test_cdc_boundaries_are_content_local(spark):
    """Editing the TAIL of a doc must not move any boundary that closes
    more than one window before the edit (locality = the whole point of
    content-defined over fixed-size chunking)."""
    from kafka_streams_clojure_spark.operators.dedup import (
        CDC_WINDOW,
        cdc_chunk_table,
    )

    base = " ".join(f"tok{i * 7 % 97}word{i * 13 % 89}" for i in range(60))
    edited = base[:-20] + "Z" * 20
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id bigint, text string"
    )
    rows = cdc_chunk_table(docs).collect()
    b1 = sorted(
        r["chunk_start"] + r["chunk_len"] - 1 for r in rows if r["doc_id"] == 1
    )
    b2 = sorted(
        r["chunk_start"] + r["chunk_len"] - 1 for r in rows if r["doc_id"] == 2
    )
    cut = len(base) - 20 - CDC_WINDOW
    assert [b for b in b1 if b <= cut] == [b for b in b2 if b <= cut]


# --- ANN n_probe/recall curve (q_llm_ann_probe_curve) --------------------


def test_ann_probe_curve_invariants(spark, sf_dir):
    """The knob-setting curve's contract: candidate mass strictly grows
    with n_probe (cells nest), REACHABILITY recall (cand_recall) is
    monotone non-decreasing (the candidate set at n_probe=a is a subset
    of n_probe=b for a<b), hits never exceed reachable hits (ADC
    ranking can only lose reachable true positives, never invent them),
    and the widest setting reaches a usable floor even on this
    near-orthogonal fixture. recall_at_k is deliberately NOT asserted
    monotone — displacement by optimistically-quantized candidates is
    real ANN behavior (measured 0.333->0.32 between n_probe 1 and 2)."""
    from kafka_streams_clojure_spark.queries.llm import q_llm_ann_probe_curve

    rows = sorted(
        q_llm_ann_probe_curve(spark, sf_dir).collect(),
        key=lambda r: r["n_probe"],
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    masses = [r["n_cand"] for r in rows]
    assert masses == sorted(masses) and masses[0] < masses[-1]
    cand_recalls = [r["cand_recall"] for r in rows]
    assert cand_recalls == sorted(cand_recalls)
    for r in rows:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["hits"] <= r["cand_hits"], (
            "end-to-end hits exceeded reachable hits"
        )
    assert cand_recalls[-1] >= 0.5, cand_recalls
    assert rows[-1]["recall_at_k"] >= 0.25, rows[-1]


def test_ann_probe_curve_matches_direct_search(spark, sf_dir):
    """Deriving the curve from ONE max-n_probe scoring pass must be
    EXACTLY the result of running ivfpq_search at each n_probe — the
    equivalence that justifies the single-pass design (a candidate's
    ADC distance is n_probe-independent; only reachability changes)."""
    from kafka_streams_clojure_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_probe_curve,
        ivfpq_search,
    )
    from kafka_streams_clojure_spark.queries._util import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    cents, books, codes = ivfpq_build(emb, m=8, ks=16)
    codes = codes.localCheckpoint(eager=True)
    topk, _, _ = ivfpq_probe_curve(
        cents, books, codes, probes, k=5, n_probes=(1, 4), m=8
    )
    curve = {
        (r["n_probe"], r["probe_id"], r["vec_id"]) for r in topk.collect()
    }
    for np_ in (1, 4):
        direct = {
            (np_, r["probe_id"], r["vec_id"])
            for r in ivfpq_search(
                cents, books, codes, probes, k=5, n_probe=np_, m=8
            ).collect()
        }
        got = {t for t in curve if t[0] == np_}
        assert got == direct, f"n_probe={np_}"


# --- compression-ratio quality signal (q_llm_compress_ratio) --------------


def test_compress_ratio_planted_entropy_extremes(spark):
    """The signal's defining behavior: a highly repetitive doc
    compresses to a tiny fraction, natural-ish prose lands mid-range,
    and incompressible noise (deterministic pseudo-random base64-ish
    chars) exceeds it — orders the three planted docs correctly."""
    import base64
    import hashlib

    from kafka_streams_clojure_spark.operators.text import compress_ratio

    # base64 of md5 digests: ~6 bits/char of deterministic pseudo-noise
    noise = "".join(
        base64.b64encode(hashlib.md5(f"chunk{i}".encode()).digest()).decode()
        for i in range(60)
    )
    prose = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors argue about maps and a parrot recites half-remembered "
        "poetry from an old almanac found below deck "
    ) * 6
    docs = spark.createDataFrame(
        [(1, "spam ham " * 200), (2, prose), (3, noise)],
        "doc_id bigint, text string",
    )
    r = {x["doc_id"]: x for x in compress_ratio(docs).collect()}
    assert r[1]["compress_ratio"] < 0.1, r[1]
    assert r[1]["compress_ratio"] < r[2]["compress_ratio"] < r[3]["compress_ratio"]
    assert r[3]["compress_ratio"] > 0.7, r[3]
    for x in r.values():
        assert x["raw_bytes"] > 0 and x["compressed_bytes"] > 0


def test_compress_batch_non_range_index():
    """r10 advice regression: the batch kernel must be POSITIONAL — a
    batch arriving with a non-RangeIndex (e.g. a pandas-side filter
    inserted upstream someday) must not misalign the id column against
    the positional raw/compressed lists."""
    import pandas as pd

    from kafka_streams_clojure_spark.operators.text import _compress_batch

    pdf = pd.DataFrame(
        {"doc_id": [10, 20, 30], "text": ["a" * 100, "", "b" * 50]},
        index=[5, 99, 2],  # hostile, non-contiguous, non-zero-based
    )
    out = _compress_batch(pdf, "doc_id", "text", level=6)
    assert list(out["doc_id"]) == [10, 20, 30]
    assert list(out["raw_bytes"]) == [100, 0, 50]
    assert pd.isna(out["compress_ratio"].iloc[1])


def test_compress_ratio_empty_and_null_and_determinism(spark):
    """Empty docs get NULL ratio (guarded denominator); rerunning the
    scan yields byte-identical results (fixed zlib level)."""
    from kafka_streams_clojure_spark.operators.text import compress_ratio

    docs = spark.createDataFrame(
        [(1, ""), (2, "hello world " * 30)], "doc_id bigint, text string"
    )
    a = {r["doc_id"]: r for r in compress_ratio(docs).collect()}
    assert a[1]["compress_ratio"] is None and a[1]["raw_bytes"] == 0
    b = {r["doc_id"]: r for r in compress_ratio(docs).collect()}
    assert a == b


def test_compress_ratio_crosschecks_repetition_score(spark, sf_dir, docs):
    """Corpus-level consistency with the oracle-gated repetition
    family: the quartile of docs with the HIGHEST dup_token_ratio must
    have a lower mean compression ratio than the quartile with the
    lowest — the two screens must agree on what 'repetitive' means."""
    from kafka_streams_clojure_spark.operators.text import (
        compress_ratio,
        repetition_stats,
    )

    joined = (
        compress_ratio(docs)
        .join(repetition_stats(docs, bigrams=False), "doc_id")
        .select("doc_id", "compress_ratio", "dup_token_ratio")
        .collect()
    )
    rows = sorted(joined, key=lambda r: r["dup_token_ratio"])
    q = len(rows) // 4
    low_rep = [r["compress_ratio"] for r in rows[:q]]
    high_rep = [r["compress_ratio"] for r in rows[-q:]]
    assert sum(high_rep) / len(high_rep) < sum(low_rep) / len(low_rep)


# --- export sharding (q_llm_shard_export) ---------------------------------


def test_shard_export_balance_and_completeness(spark, sf_dir, docs):
    """The manifest's contract: every doc lands in exactly one shard
    (doc counts sum to the corpus), sequence numbers are dense per
    shard (max_seq == n_docs), and the md5 shard hash balances token
    mass (max/min shard mass bounded — the property a training launch
    checks before copying bytes). Also: the shard hash must be
    INDEPENDENT of the eval-split bucket (different md5 char window) —
    shards contain a mix of buckets, not bucket-aligned stripes."""
    from kafka_streams_clojure_spark.queries.llm import (
        _N_EXPORT_SHARDS,
        q_llm_shard_export,
    )

    rows = q_llm_shard_export(spark, sf_dir).collect()
    assert len(rows) == _N_EXPORT_SHARDS
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["max_seq"] == r["n_docs"]
    masses = [r["total_tokens"] for r in rows]
    assert max(masses) <= 2.5 * min(masses), masses

    # independence from the eval split: within one shard, both split
    # sides appear (a bucket-aligned shard hash would segregate them)
    both = docs.selectExpr(
        f"conv(substring(md5(cast(doc_id as string)), 9, 8), 16, 10) % {_N_EXPORT_SHARDS} as shard",
        "conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) % 100 < 10 as is_eval",
    ).collect()
    per_shard: dict = {}
    for r in both:
        per_shard.setdefault(int(r["shard"]), set()).add(bool(r["is_eval"]))
    mixed = sum(1 for v in per_shard.values() if len(v) == 2)
    assert mixed >= _N_EXPORT_SHARDS // 2, per_shard


def test_cdc_hashed_matches_md5_twin(spark, sf_dir, docs):
    """The hashed wire twin's gate: 8-byte chunk identity (truncated
    md5 int64, computed in the r11 kernel — the q_llm_cdc_chunks_hashed
    plan) yields a report IDENTICAL to the oracle-gated md5 twin on the
    fixture (hash representation cancels out of counts/chars; only a
    64-bit collision could diverge them)."""
    from kafka_streams_clojure_spark.operators.dedup import cdc_dedup_report

    a = {r["doc_id"]: r for r in cdc_dedup_report(docs).collect()}
    b = {
        r["doc_id"]: r
        for r in cdc_dedup_report(docs, hash_key=True, impl="kernel").collect()
    }
    assert a == b


def test_cdc_kernel_matches_windowed_sf_gate(spark, docs):
    """r10 verdict #3's gate: the zero-char-exchange mapInPandas kernel
    (`cdc_chunk_rows`) must be CHUNK-FOR-CHUNK identical to the windowed
    oracle twin on the fixture corpus — run at sf0.1 density via
    SPARK_GRAFT_TEST_SF_DIR (the sf_gate discipline: boundary-hash bugs
    hide in low-density fixtures). Report equality follows a fortiori,
    but the chunk-table comparison localizes a failure to the exact
    (doc, start) that diverged."""
    from kafka_streams_clojure_spark.operators.dedup import (
        cdc_chunk_rows,
        cdc_chunk_table,
    )

    a = cdc_chunk_table(docs)
    b = cdc_chunk_rows(docs)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0


def test_cdc_kernel_astral_codepoints(spark):
    """r10 advice: CODEPOINT semantics beyond the BMP. The kernel must
    chunk an emoji-bearing doc exactly like a pure-Python codepoint
    reference of the documented boundary rule (DuckDB's substr/ascii
    are codepoint-based too, so this is also oracle semantics) — the
    windowed form's split("") sees UTF-16 surrogate halves there, which
    is why the kernel is the production path."""
    import hashlib

    from kafka_streams_clojure_spark.operators.dedup import (
        CDC_BASE,
        CDC_DIVISOR,
        CDC_MOD,
        CDC_WINDOW,
        cdc_chunk_rows,
    )

    text = "🚀".join(
        f"tok{i * 7 % 97}🜁word{i * 13 % 89}" for i in range(40)
    )
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = sorted(
        (r["chunk_start"], r["chunk_len"], r["chunk_hash"])
        for r in cdc_chunk_rows(docs).collect()
    )

    w, d = CDC_WINDOW, CDC_DIVISOR
    pows = [pow(CDC_BASE, j, CDC_MOD) for j in range(w)]
    ends = [
        i
        for i in range(w, len(text) + 1)
        if sum(ord(text[i - w + j]) * pows[j] for j in range(w)) % CDC_MOD % d == 0
    ]
    if not ends or ends[-1] != len(text):
        ends.append(len(text))
    want, prev = [], 0
    for e in ends:
        chunk = text[prev:e]
        want.append(
            (prev + 1, e - prev, hashlib.md5(chunk.encode("utf-8")).hexdigest())
        )
        prev = e
    assert got == sorted(want)
    assert len(got) > 1  # the fixture actually exercises boundaries


# --- LSH banding curve (q_llm_lsh_band_curve) ------------------------------


def test_lsh_band_curve_structural_invariants(spark, sf_dir):
    """(a) index size is exact: n_band_rows = n_docs × bands; (b) hits
    never exceed the exact population or the candidate count; (c) more
    bands of fewer rows never lose recall on the fixture (the P =
    1-(1-j^r)^b ordering, strict for j < 1); (d) theoretical capture
    at j=0.5 is strictly increasing in bands — the column users read
    the curve for."""
    from kafka_streams_clojure_spark.queries._util import load_table
    from kafka_streams_clojure_spark.queries.llm import q_llm_lsh_band_curve

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = sorted(
        q_llm_lsh_band_curve(spark, sf_dir).collect(), key=lambda r: r["bands"]
    )
    assert [r["bands"] for r in rows] == [4, 8, 16]
    for r in rows:
        assert r["n_band_rows"] == n_docs * r["bands"]
        assert r["hits"] <= r["n_cand_pairs"]
        assert r["recall"] is None or 0.0 <= r["recall"] <= 1.0
    recalls = [r["recall"] for r in rows if r["recall"] is not None]
    assert recalls == sorted(recalls), recalls
    caps = [r["p_capture_at_05"] for r in rows]
    assert caps[0] < caps[1] < caps[2]


def test_lsh_band_curve_exact_dups_caught_by_every_config(spark):
    """The STRUCTURAL guarantee: identical texts have identical
    signatures, hence identical bucket hashes in EVERY band of EVERY
    config — planted exact dups must be candidates at (4,8), (8,4) and
    (16,2) alike (100%, not probabilistic)."""
    from kafka_streams_clojure_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signatures,
    )

    texts = [
        " ".join(f"w{i * 7 % 53}tok{i * 11 % 47}" for i in range(30 + d))
        for d in range(6)
    ]
    rows = [(i, texts[i % 6]) for i in range(12)]  # 6 exact-dup pairs
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = minhash_signatures(docs, n_hashes=32)
    planted = {(i, i + 6) for i in range(6)}
    for bands in (4, 8, 16):
        br = minhash_band_rows(docs, n_hashes=32, bands=bands, sig=sig)
        a = br.selectExpr("doc_id as id_a", "band", "bucket")
        b = br.selectExpr("doc_id as id_b", "band", "bucket")
        cand = {
            (r["id_a"], r["id_b"])
            for r in a.join(b, ["band", "bucket"])
            .filter("id_a < id_b")
            .select("id_a", "id_b")
            .distinct()
            .collect()
        }
        assert planted <= cand, f"bands={bands}: missing {planted - cand}"


# --- perceptual-hash band geometry (r10 scale fix) -------------------------


def test_phash_band_geometry_pigeonhole_and_guard(spark):
    """The r10 banding change (3×~21-bit bands from max_hamming+1
    instead of 4×16): (a) pairs differing in exactly max_hamming bits
    are STILL guaranteed found, including flips that straddle the new
    band boundaries (the pigeonhole must hold for the new cut points);
    (b) an n_bands below the pigeonhole minimum is rejected loudly;
    (c) identical hashes are always found."""
    import pytest as _pytest

    from kafka_streams_clojure_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    def pack(h64):
        return (
            h64 & 0xFFFF,
            (h64 >> 16) & 0xFFFF,
            (h64 >> 32) & 0xFFFF,
            (h64 >> 48) & 0xFFFF,
        )

    base = 0x5A5A_C3C3_0F0F_9696
    rows = [(0, *pack(base)), (1, *pack(base))]  # identical pair
    # 2-bit flips straddling the 3-band cut points (widths 22,21,21 →
    # boundaries after bits 21 and 42) and inside one band
    flips = [(21, 22), (41, 43), (0, 1), (62, 63), (21, 42)]
    planted = {(0, 1)}
    vid = 2
    for a, b in flips:
        rows.append((vid, *pack(base ^ (1 << a) ^ (1 << b))))
        planted.add((0, vid))
        vid += 1
    df = spark.createDataFrame(
        rows, "vid long, h0 long, h1 long, h2 long, h3 long"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in phash_near_dup_pairs(df, max_hamming=2).collect()
    }
    assert planted <= pairs, planted - pairs

    with _pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(df, max_hamming=2, n_bands=2)


def test_auto_band_levels_threshold():
    """The self-scaling rule (r10 verdict #4): hierarchical keys engage
    exactly when the distinct-class count exceeds the level-1 band
    space — 2²¹ for the 3-band max_hamming=2 phash geometry, 2¹⁶ for
    the 4-band simhash one."""
    from kafka_streams_clojure_spark.operators.dedup import auto_band_levels

    assert auto_band_levels(1 << 21, 2) == 1
    assert auto_band_levels((1 << 21) + 1, 2) == 2
    assert auto_band_levels(1 << 16, 3, n_bands=4) == 1
    assert auto_band_levels((1 << 16) + 1, 3, n_bands=4) == 2
    assert auto_band_levels(100, 2) == 1


def test_hamming_band_rows_hierarchical_recall_fuzz(spark):
    """The double-pigeonhole guarantee of hamming_band_rows levels=2:
    for ANY pair within max_hamming, some level-1 band b is flip-free,
    all flips then lie in b's complement, so one of its max_hamming+1
    sub-bands is clean — the pair must share >= 1 (band, bucket).
    Fuzzed over random 64-bit signatures (sign bit exercised) with
    random flip positions, for both the phash (k=2) and simhash (k=3)
    geometries; also pins levels=1/levels=2 END-TO-END pair equality
    through phash_near_dup_pairs (banding must never change emitted
    pairs)."""
    import random

    from kafka_streams_clojure_spark.operators.dedup import hamming_band_rows
    from kafka_streams_clojure_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rng = random.Random(42)

    def to_i64(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    for max_h, nb in ((2, 3), (3, 4)):
        pairs, values = [], set()
        for i in range(120):
            base = rng.getrandbits(64)
            flipped = base
            for pos in rng.sample(range(64), rng.randint(0, max_h)):
                flipped ^= 1 << pos
            pairs.append((base, flipped))
            values.add(base)
            values.add(flipped)
        classes = spark.createDataFrame(
            [(to_i64(v),) for v in values], "__h long"
        )
        rows = hamming_band_rows(
            classes, "__h", max_h, n_bands=nb, levels=2
        ).collect()
        keys: dict = {}
        for r in rows:
            keys.setdefault(r["__h"], set()).add((r["band"], r["bucket"]))
        # geometry: nb*(max_h+1) keys per hash, every pair collides
        assert all(len(s) == nb * (max_h + 1) for s in keys.values())
        for a, b in pairs:
            assert keys[to_i64(a)] & keys[to_i64(b)], (
                f"hamming<= {max_h} pair missed by hierarchical keys: "
                f"{a:016x} vs {b:016x}"
            )

    # end-to-end: levels must not change WHICH pairs are emitted
    def pack(h64):
        return (
            h64 & 0xFFFF,
            (h64 >> 16) & 0xFFFF,
            (h64 >> 32) & 0xFFFF,
            (h64 >> 48) & 0xFFFF,
        )

    rows = []
    for i in range(60):
        base = rng.getrandbits(64)
        rows.append((2 * i, *pack(base)))
        flipped = base
        for pos in rng.sample(range(64), rng.randint(0, 3)):  # some > max_h
            flipped ^= 1 << pos
        rows.append((2 * i + 1, *pack(flipped)))
    df = spark.createDataFrame(
        rows, "vid long, h0 long, h1 long, h2 long, h3 long"
    )
    p1 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_near_dup_pairs(df, max_hamming=2, levels=1).collect()
    }
    p2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_near_dup_pairs(df, max_hamming=2, levels=2).collect()
    }
    assert p1 == p2 and p1  # non-empty: the fixture planted <=2-flip pairs
