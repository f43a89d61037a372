"""Deduplication operators for LLM training-data pipelines (`[ext]`,
north-star mandate): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these ops is 100 TB of documents):

- **exact**: hash-groupBy on the normalized fingerprint — one shuffle
  keyed by a 128-bit digest, no text comparison.
- **n-gram Jaccard**: candidate pairs only via a shared-shingle
  equi-join (never all-pairs); intersection counts fall out of the
  join's groupBy. Shuffle volume ∝ total shingles, not docs².
- **MinHash+LSH**: fixed-size signatures (n_hashes ints/doc) replace
  shingle sets; banding turns near-dup search into an equi-join on
  (band, band-hash) buckets. Candidates are verified on estimated
  Jaccard from signatures. All hashing is xxhash64 — JVM-side,
  codegen'd.
- **SimHash**: 64-bit bit-majority signature per doc via explode +
  bit-count aggregation (pure built-ins); near-dups = equal signature
  bands (Hamming blocking).

Every word window here (shingles, passages) comes from
:func:`operators.text.token_windows`: each document is tokenized once
and its windows are read from the token array in the same row, with no
shuffle, sort or window function.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

from kafka_streams_clojure_spark.operators.text import fingerprint, token_windows


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact-duplicate group,
    where "exact" means whitespace/case-normalized equality."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    keep = df.select(fp, F.col(id_col)).groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 4) -> DataFrame:
    """(id, set_size, shingle) rows, distinct per doc — the set
    representation for Jaccard/MinHash.

    Shingles are the full k-token windows of
    :func:`operators.text.token_windows`. A doc with <= k tokens keeps
    only its first window, which is its whole (normalized) text. One
    scan, no shuffle before the per-doc ``collect_set``, which is the
    only exchange and defines the set: rows sharing an id merge, and
    null text gives no rows.
    """
    sh = token_windows(df, k, id_col, text_col).filter(
        F.col("pos") <= F.greatest(F.col("n") - k, F.lit(0))
    )
    return (
        sh.groupBy(id_col)
        .agg(F.collect_set("window").alias("sh"))
        .select(F.col(id_col), F.size("sh").alias("set_size"), F.explode("sh").alias("shingle"))
    )


def _shingle_pair_counts(
    sets: DataFrame, id_col: str, max_doc_freq: int | None
) -> DataFrame:
    """(id_a, id_b, size_a, size_b, n_inter) — the shared-shingle
    candidate core both Jaccard and containment score from. ONE home
    for the never-docs² plan (equi-join on the shingle, ``id_a <
    id_b``, one pair-count aggregation) and for the ``max_doc_freq``
    stop-shingle cut (doc-freq filter on the join input; ``size_*``
    stay the FULL set sizes)."""
    joinable = sets
    if max_doc_freq is not None:
        rare = (
            sets.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        joinable = sets.join(rare, "shingle")
    a = joinable.select(
        F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "shingle"
    )
    b = joinable.select(
        F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "shingle"
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with word-k-gram Jaccard >= threshold.

    Candidates come from the shared-shingle self-join; |A∩B| is the
    join's pair count, |A∪B| = |A|+|B|-|A∩B|. Returns
    (id_a, id_b, jaccard).

    Plan shape: set sizes ride along with the exploded shingle rows, so
    the operator is the shingle-set generation (see
    :func:`shingle_sets`) + the shingle equi-join + one pair-count
    aggregation. Never docs².

    ``max_doc_freq`` is the production stop-shingle knob: shingles
    appearing in more than that many docs (boilerplate, templates) are
    excluded from the join, bounding the quadratic bucket tail — a
    single shingle shared by X docs costs X² join rows, so at web
    scale the cut is what keeps the candidate count ∝ true near-dups.
    Set sizes stay the FULL sizes, so the reported jaccard becomes a
    LOWER bound (intersection counted over rare shingles only): pairs
    that overlap only in boilerplate drop out — usually the desired
    semantics for near-dup mining. Default ``None`` = exact.
    """
    # Materialize the sets once: they're read by both join sides and by
    # the inferred not-null scan filter — without persist the generation
    # runs up to 4×.
    sets = persist_if_uncached(shingle_sets(df, id_col, text_col, k))
    inter = _shingle_pair_counts(sets, id_col, max_doc_freq)
    jac = (
        F.col("n_inter").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double")
    )
    # r12: persist the PAIR TABLE too — it is tiny (∝ true near-dups)
    # but several consumers fan it out repeatedly (q_llm_triplets alone
    # instantiates the symmetrized chain ~8× across pos/anchors/ash/
    # abuck branches: 72-Exchange plan, 56 re-reads of the cached sets
    # with the self-join + pair aggregate re-run each time). The cache
    # collapses every copy to one InMemoryRelation; single-consumer
    # keys just store a few hundred rows.
    return persist_if_uncached(
        inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (a < b) where either doc's k-gram set is mostly
    CONTAINED in the other's: max(|A∩B|/|A|, |A∩B|/|B|) >= threshold.

    Containment is the asymmetric near-dup measure Jaccard misses: a
    short document pasted verbatim inside a much longer one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 — exactly the
    quote/excerpt/wrapper duplication a training-data pipeline needs to
    catch (the reference's distinct-transducer ambition, api.clj:39,
    generalized to fuzzy subset matching).

    Returns (id_a, id_b, cont_a, cont_b) where cont_a = |A∩B|/|A| is
    the fraction of the SMALLER-id doc covered by the other.

    Plan shape: literally :func:`ngram_jaccard_pairs`' candidate core
    (:func:`_shingle_pair_counts` — shared shingle-set generation,
    shared-shingle equi-join, one pair-count aggregation) with a
    different final score; ``max_doc_freq`` is the same stop-shingle
    cut. Never docs²; shuffle ∝ total shingles.
    """
    sets = persist_if_uncached(shingle_sets(df, id_col, text_col, k))
    inter = _shingle_pair_counts(sets, id_col, max_doc_freq)
    cont_a = (F.col("n_inter").cast("double") / F.col("size_a").cast("double")).alias(
        "cont_a"
    )
    cont_b = (F.col("n_inter").cast("double") / F.col("size_b").cast("double")).alias(
        "cont_b"
    )
    return (
        inter.select("id_a", "id_b", cont_a, cont_b)
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    n_hashes: int = 32,
) -> DataFrame:
    """Per-doc MinHash signature: for seed i, min over the doc's
    shingles of xxhash64(shingle, seed=i). One explode + one groupBy;
    signature i estimates P(minhash_a == minhash_b) = Jaccard(a, b)."""
    s = shingle_sets(df, id_col, text_col, k)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    sig = s.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("signature")
    )


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    n_hashes: int = 32,
    bands: int = 8,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The banded MinHash INDEX shape: ``(id, signature, band,
    bucket)`` — one row per (doc, band), bucket = xxhash64 of that
    band's r = n_hashes/bands signature positions. This is both the
    self-join input of :func:`minhash_lsh_pairs` and the standing
    index a streaming ingest probes (:func:`near_dup_ingest_delta`):
    persisting THIS table is what makes near-dup detection incremental
    — a delta only ever joins the index on (band, bucket), never
    re-shingles the corpus. ``sig`` short-circuits signature
    generation when the caller already holds (and persisted) it."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}); a remainder "
            "would silently drop signature positions and lower recall"
        )
    r = n_hashes // bands
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, k, n_hashes)
    return sig.select(
        F.col(id_col),
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("signature", b * r + j + 1) for j in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "signature", "bb.band", "bb.bucket")


def _est_jaccard(sig_a, sig_b, n_hashes: int):
    """Estimated Jaccard = fraction of equal signature positions."""
    eq = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return eq.cast("double") / F.lit(float(n_hashes))


def near_dup_ingest_delta(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """ONLINE near-dup dedup of an ingest DELTA against a standing
    banded MinHash index (the :func:`minhash_band_rows` shape) — the
    streaming twin of :func:`minhash_lsh_pairs`, the op a crawl
    pipeline runs continuously: band-bucket the delta, probe the index
    on (band, bucket), score candidates by estimated Jaccard, and drop
    every delta doc whose best index match clears ``threshold``
    (an identical re-crawl of an indexed doc estimates 1.0 and is
    dropped — the index REPRESENTS accepted content, so there is no
    self-id exemption). Docs are compared against the INDEX only, not
    against each other — within-delta near-dups are the next delta's
    problem once the first one's bands land in the index (or run
    :func:`minhash_lsh_pairs` on the delta first).

    Returns ``(accepted, accepted_band_rows)``: the caller appends
    ``accepted_band_rows`` to the index store so later deltas dedup
    against earlier accepted ones — the cross-batch contract
    (tests/test_incremental_passage_dedup.py).

    Scale shape: the delta joins the index on (band, bucket) — an
    equi-join whose cost follows colliding buckets, never
    delta×corpus; the index carries fixed-width rows (id + 32 longs +
    band/bucket), so at 100 TB it is a compact table keyed exactly how
    the probe reads it. At fixture scale the delta's signatures are
    recomputed for the band-rows output; a production loop persists
    the delta signature projection once per batch."""
    bb = minhash_band_rows(new_df, id_col, text_col, k, n_hashes, bands)
    # Dedup candidate (delta, index-doc) pairs at ID WIDTH before
    # scoring — a delta doc colliding with the same index doc in
    # several bands otherwise gets zip_with-scored once per colliding
    # band, each row carrying two full 32-long signatures. Same
    # discipline as minhash_lsh_pairs: distinct on ids, re-attach
    # signatures once per pair.
    cand_ids = (
        bb.select(F.col(id_col).alias("__nid"), "band", "bucket")
        .join(
            index.select(F.col(id_col).alias("__oid"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("__nid", "__oid")
        .distinct()
    )
    sig_n = bb.select(
        F.col(id_col).alias("__nid"), F.col("signature").alias("sig_n")
    ).dropDuplicates(["__nid"])
    sig_o = index.select(
        F.col(id_col).alias("__oid"), F.col("signature").alias("sig_o")
    ).dropDuplicates(["__oid"])
    dup_ids = (
        cand_ids.join(sig_n, "__nid")
        .join(sig_o, "__oid")
        .filter(_est_jaccard(F.col("sig_n"), F.col("sig_o"), n_hashes) >= threshold)
        .select(F.col("__nid").alias(id_col))
        .distinct()
    )
    accepted = new_df.join(dup_ids, id_col, "left_anti")
    accepted_bands = bb.join(accepted.select(id_col), id_col, "left_semi")
    return accepted, accepted_bands


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH.

    signature → `bands` bands of r = n_hashes/bands rows; docs sharing
    any band bucket become candidates (prob ≈ 1-(1-j^r)^bands);
    candidates are scored by estimated Jaccard = fraction of equal
    signature positions and filtered at `threshold`. Returns
    (id_a, id_b, est_jaccard).
    """
    if n_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}); a remainder "
            "would silently drop signature positions and lower recall"
        )
    sig = persist_if_uncached(minhash_signatures(df, id_col, text_col, k, n_hashes))
    band_rows = minhash_band_rows(
        df, id_col, text_col, k, n_hashes, bands, sig=sig
    )
    # Candidate dedup is an ID-WIDTH exchange: a doc pair colliding in
    # several bands would otherwise be distinct'd carrying two full
    # 32-long signatures (~512 B/row, ~30× wider than two ids) — at
    # 100 TB that distinct shuffle dominates. Signatures re-join AFTER
    # dedup, keyed by id, against the already-persisted sig projection
    # (same shape as similarity.lsh_cosine_pairs).
    a = band_rows.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = band_rows.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cands.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")), "id_a"
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")), "id_b"
    )
    est = _est_jaccard(F.col("sig_a"), F.col("sig_b"), n_hashes).alias("est_jaccard")
    return pairs.select("id_a", "id_b", est).filter(F.col("est_jaccard") >= threshold)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc, pure built-ins: explode tokens, hash to
    64 bits, per bit position sum (+1/-1), sign → bit. The explode×bits
    blowup stays JVM-side and shuffles once on doc_id."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    )
    h = F.xxhash64("tok")
    bit_votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*bit_votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select(id_col, sig.alias("simhash"))


def _band_cuts(total_bits: int, n: int) -> list[tuple[int, int]]:
    """n (offset, width) cuts tiling ``total_bits``, widest first."""
    widths = [total_bits // n + (1 if k < total_bits % n else 0) for k in range(n)]
    offsets = [sum(widths[:k]) for k in range(n)]
    return list(zip(offsets, widths))


def hamming_band_rows(
    classes: DataFrame,
    hash_col: str,
    max_hamming: int,
    n_bands: int | None = None,
    levels: int = 1,
) -> DataFrame:
    """Blocking keys for exact Hamming-≤k search over 64-bit values:
    returns ``(hash_col, band, bucket)`` rows such that ANY two values
    within ``max_hamming`` share at least one (band, bucket) — the
    shared machinery behind :func:`simhash_near_dups` and
    ``operators/multimodal.phash_near_dup_pairs``.

    ``levels=1`` is the classic pigeonhole: cut 64 bits into
    ``n_bands >= max_hamming+1`` disjoint bands; k flips touch at most
    k bands, so one band is clean. Random collisions grow ∝
    N²/2^band_width — linear only while N ≤ 2^band_width (2²¹ for the
    3-band max_hamming=2 geometry).

    ``levels=2`` is the HIERARCHICAL pigeonhole (the multi-index
    Hamming refinement, cf. Norouzi et al. 2012): for each level-1
    band b, the 64-w_b COMPLEMENT bits are packed and cut into
    ``max_hamming+1`` sub-bands; the key is (b's value, sub-band j's
    value). Proof of zero recall loss: a ≤k-flip pair has a clean
    level-1 band b (first pigeonhole); ALL its flips then lie in b's
    complement, so one of the k+1 sub-bands is clean too (second
    pigeonhole) — the pair agrees on the composite (b, j) key.
    Effective key width grows from w to w + (64-w)/(k+1) (21→35 bits
    for the phash geometry, 16→28 for simhash), pushing the
    linear-collision ceiling from 2²¹ to 2³⁵ at a constant-factor cost
    of (k+1)× more band rows. Callers auto-select the level from the
    distinct-class count against the level-1 band space — the
    semdedup-√N discipline of deriving geometry from corpus size
    instead of a static knob (r10 verdict #4)."""
    k1 = max_hamming + 1
    nb = n_bands if n_bands is not None else k1
    if nb < k1:
        raise ValueError(
            f"n_bands={nb} breaks the pigeonhole recall guarantee for "
            f"max_hamming={max_hamming} (need >= {k1})"
        )
    h = F.col(hash_col)
    rows = []
    for b, (off, w) in enumerate(_band_cuts(64, nb)):
        if levels == 1:
            rows.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(h, off)
                    .bitwiseAND(F.lit((1 << w) - 1))
                    .alias("bucket"),
                )
            )
            continue
        # pack the complement of band b: bits above (off+w) shifted
        # down next to the bits below off — logical shifts, the hash
        # may occupy the sign bit
        lo_mask = (1 << off) - 1
        comp = (
            F.shiftleft(F.shiftrightunsigned(h, off + w), off)
            .bitwiseOR(h.bitwiseAND(F.lit(lo_mask)))
            if off + w < 64
            else h.bitwiseAND(F.lit(lo_mask))
        )
        band_val = F.shiftrightunsigned(h, off).bitwiseAND(F.lit((1 << w) - 1))
        for j, (soff, sw) in enumerate(_band_cuts(64 - w, k1)):
            sub_val = F.shiftrightunsigned(comp, soff).bitwiseAND(
                F.lit((1 << sw) - 1)
            )
            rows.append(
                F.struct(
                    F.lit(b * k1 + j).alias("band"),
                    # composite (band value, sub value) packed into one
                    # int64: w + sw <= 64-... always < 64 bits total
                    F.shiftleft(band_val, sw).bitwiseOR(sub_val).alias(
                        "bucket"
                    ),
                )
            )
    return classes.select(
        hash_col, F.explode(F.array(*rows)).alias("bb")
    ).select(hash_col, "bb.band", "bb.bucket")


def auto_band_levels(n_classes: int, max_hamming: int, n_bands: int | None = None) -> int:
    """Derive the banding LEVEL from the corpus (distinct-class count)
    instead of a static knob: switch to the hierarchical keys exactly
    when level-1 random collisions stop being linear — n_classes >
    2^band_width, the level-1 band space."""
    nb = n_bands if n_bands is not None else max_hamming + 1
    min_w = 64 // nb  # narrowest level-1 band bounds the collision mass
    return 2 if n_classes > (1 << min_w) else 1


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
    max_hamming: int = 3,
    levels: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (a pair within
    Hamming distance d < 4 shares at least one of 4 bands exactly),
    verify exact Hamming distance on candidates.

    The band self-join runs over DISTINCT signatures, not docs (r10,
    the phash_near_dup_pairs class-collapse): a corpus full of
    identical/near-identical docs — the input a dedup pass exists for —
    pays the band-bucket quadratic once per distinct simhash; identical
    signatures pair directly at hamming 0 and inter-class candidates
    expand to doc pairs only after the exact Hamming filter (both
    expansions are output-sized). Emitted pairs are unchanged.

    Band GEOMETRY is self-scaling (r10 verdict #4): ``levels=None``
    derives the blocking depth from the distinct-signature count — one
    metadata-scale count over the persisted class table — switching to
    the hierarchical pigeonhole keys (:func:`hamming_band_rows`
    ``levels=2``: 16→28-bit effective keys, zero recall loss by the
    double-pigeonhole argument) exactly when the corpus outgrows the
    2^16 level-1 band space and level-1 collisions would stop being
    linear. No operator retuning at any corpus size; emitted pairs are
    level-independent (tests/test_sketch.py equality + planted fuzz)."""
    n_bands = 64 // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < 64//band_bits ({n_bands}) or the "
            "band-blocking pigeonhole guarantee (>= one clean band per pair) breaks"
        )
    sig = simhash_signatures(df, id_col, text_col)
    members = persist_if_uncached(
        sig.select(F.col(id_col).alias("__vid"), F.col("simhash").alias("__sh"))
    )
    classes = persist_if_uncached(members.select("__sh").distinct())
    ma = members.select("__sh", F.col("__vid").alias("id_a"))
    mb = members.select("__sh", F.col("__vid").alias("id_b"))
    intra = (
        ma.join(mb, "__sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("long").alias("hamming"))
    )
    if levels is None:
        levels = auto_band_levels(classes.count(), max_hamming, n_bands)
    banded = hamming_band_rows(
        classes, "__sh", max_hamming, n_bands=n_bands, levels=levels
    )
    ca = banded.select(F.col("__sh").alias("__sa"), "band", "bucket")
    cb = banded.select(F.col("__sh").alias("__sb"), "band", "bucket")
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("long")
    close = (
        ca.join(cb, ["band", "bucket"])
        .filter(F.col("__sa") < F.col("__sb"))
        .select("__sa", "__sb")
        .distinct()
        .select("__sa", "__sb", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    inter = (
        close.join(
            members.select(F.col("__sh").alias("__sa"),
                           F.col("__vid").alias("__va")), "__sa")
        .join(
            members.select(F.col("__sh").alias("__sb"),
                           F.col("__vid").alias("__vb")), "__sb")
        .select(
            F.least("__va", "__vb").alias("id_a"),
            F.greatest("__va", "__vb").alias("id_b"),
            "hamming",
        )
    )
    return intra.unionByName(inter)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang", "source"),
    length_bucket: int = 100,
    prefix_len: int = 60,
    max_dist: int = 10,
    ascii_only: bool = True,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs — the character-level
    member of the dedup family, catching typo-level / OCR-noise /
    template-fill duplication that token-shingle Jaccard dilutes (one
    flipped character kills k whole shingles) and MinHash can't see
    below shingle granularity.

    Blocked quadratic, like every record-linkage edit-distance pass:
    candidates are pairs sharing (``block_cols``, length ÷
    ``length_bucket``) — near-identical docs land in the same length
    band; docs straddling a band boundary are the standard blocking
    recall tradeoff. Distance is computed on the first ``prefix_len``
    chars (Levenshtein is O(n²) per pair; a bounded prefix makes the
    per-pair cost constant — and near-dup docs diverge in the prefix
    or nowhere). At 100 TB the block key bounds the quadratic the way
    :func:`~kafka_streams_clojure_spark.operators.similarity.embedding_cosine_near_dups`
    does — add more blocking columns (or a tighter band) before adding
    machines.

    ``ascii_only`` (default) keeps only byte-length == char-length
    rows: Spark's levenshtein counts CHARACTERS while engines like
    DuckDB count BYTES, so non-ASCII text silently diverges between
    engines — the same class of cross-engine trap as the float-decimal
    tie rules, filtered out rather than papered over. (All fixture
    text is ASCII today; the guard is for the next fixture flip.)

    Returns ``(id_a, id_b, edit_dist)`` with ``edit_dist <= max_dist``.
    """
    cols = [F.col(id_col), *[F.col(c) for c in block_cols]]
    base = df.select(
        *cols,
        F.expr(f"length({text_col}) DIV {length_bucket}").alias("__band"),
        F.substring(F.col(text_col), 1, prefix_len).alias("__prefix"),
        *( [ (F.octet_length(F.col(text_col)) == F.length(F.col(text_col))).alias("__ascii") ]
           if ascii_only else [] ),
    )
    if ascii_only:
        base = base.filter(F.col("__ascii")).drop("__ascii")
    keys = [*block_cols, "__band"]
    a = base.select(
        F.col(id_col).alias("id_a"), *[F.col(k) for k in keys], F.col("__prefix").alias("__pa")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), *[F.col(k) for k in keys], F.col("__prefix").alias("__pb")
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__pa"), F.col("__pb")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sort_cols: tuple[str, ...] = ("__sk",),
    window: int = 5,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo '95): order the
    whole corpus by a sort key and emit every pair within ``window``
    positions — the record-linkage candidate generator for near-dups
    that CLUSTER under lexicographic order (shared prefixes, serials,
    template fills) without any equi-blockable attribute.

    Scale shape: the global order comes from
    :func:`~kafka_streams_clojure_spark.operators.order.global_index`
    (parallel range sort + broadcast prefix counts — NO single-task
    window), and the "within w positions" pairing is the binned range
    join (bucket = idx DIV w; each left row probes its own and the
    next bucket) — one equi-join, never corpus². Candidate count is
    exactly (w−1)·n, linear in the corpus, which is the whole point of
    the method at 100 TB: sort once, pair a sliding constant-width
    neighborhood.

    ``carry`` columns are duplicated onto both sides (``<c>_a`` /
    ``<c>_b``) for a downstream verify stage. Pairs come back in index
    order (``ia < ib``) with both positions attached.
    """
    from kafka_streams_clojure_spark.operators.order import global_index

    w = window
    idxed = global_index(df, order_by=[*sort_cols, id_col], idx_col="__idx")
    a = idxed.select(
        F.col(id_col).alias("id_a"),
        F.col("__idx").alias("ia"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
        F.explode(
            F.array(F.expr(f"__idx DIV {w}"), F.expr(f"__idx DIV {w} + 1"))
        ).alias("__bkt"),
    )
    b = idxed.select(
        F.col(id_col).alias("id_b"),
        F.col("__idx").alias("ib"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
        F.expr(f"__idx DIV {w}").alias("__bkt"),
    )
    return (
        a.join(b, "__bkt")
        .filter((F.col("ib") > F.col("ia")) & (F.col("ib") <= F.col("ia") + (w - 1)))
        .drop("__bkt")
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Benchmark decontamination: for every training doc, count how many
    of its distinct word-k-grams also appear anywhere in the benchmark
    (eval) corpus. Docs with ``n_hits > 0`` are contamination suspects
    a real pipeline drops or audits before training.

    Scale shape: real eval sets are tiny relative to 100 TB of training
    text, so the benchmark's distinct-shingle table is BROADCAST — the
    training corpus never shuffles for the membership probe; the only
    exchange is the per-doc hit count keyed by ``id_col``. (If the
    benchmark ever outgrows the broadcast threshold Spark falls back to
    a shuffled hash join on the shingle — same semantics.)

    Returns ``(id_col, n_hits)`` for contaminated docs only.
    """
    bench_sh = F.broadcast(
        shingle_sets(bench, id_col, text_col, k).select("shingle").distinct()
    )
    train_sh = shingle_sets(train, id_col, text_col, k)
    return (
        train_sh.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def passage_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_words: int = 10,
) -> DataFrame:
    """(id, pidx, passage) rows: consecutive non-overlapping
    ``passage_words``-word windows per document, in order — the
    :func:`operators.text.token_windows` of width and stride
    ``passage_words``, the last one short when the token count is not a
    multiple. No shuffle. Shared by :func:`passage_dedup` and
    :func:`intra_doc_dedup`."""
    w_ = passage_words
    return token_windows(df, w_, id_col, text_col, step=w_).select(
        F.col(id_col),
        (F.col("pos") / w_).cast("bigint").alias("pidx"),
        F.col("window").alias("passage"),
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_words: int = 10,
    max_doc_freq: int = 1,
    hash_key: bool = False,
) -> DataFrame:
    """Boilerplate-passage removal (C4-style line dedup, generalized):
    split every document into consecutive ``passage_words``-word
    passages, drop each passage that occurs in more than
    ``max_doc_freq`` DISTINCT documents (headers, footers, license
    blurbs, planted duplicates), and reassemble the survivors in
    original order. All documents survive — a fully-boilerplate doc
    comes back with ``clean_text = ''`` (length filters downstream
    decide its fate), preserving lineage.

    Returns ``(id_col, clean_text, n_kept, n_dropped)``.

    Scale shape (100 TB): passages come from :func:`passage_table`
    with no shuffle. The doc-frequency table is NOT broadcast — distinct
    passages scale with the corpus — so the frequency probe is a
    shuffled equi-join. ``hash_key=True`` is the production path: the
    probe aggregates and joins on ``xxhash64(passage)`` (8 bytes/row
    exchange instead of the raw string; a 64-bit collision conflates
    two passages' doc-freqs at ~2^-64 per pair — harmless for a
    boilerplate cut, unacceptable only for an exactness oracle, which
    is why the oracle-gated key keeps the default string key).
    Reassembly sorts each doc's surviving passages with an
    ``array_sort`` over (index, passage) structs — no driver
    collect.
    """
    passages = persist_if_uncached(
        passage_table(df, id_col, text_col, passage_words)
    )
    key = F.xxhash64("passage").alias("__pk") if hash_key else F.col("passage").alias("__pk")
    freq = (
        passages.select(key, id_col)
        .groupBy("__pk")
        .agg(F.countDistinct(id_col).alias("__dfreq"))
    )
    kept = (
        passages.withColumn("__pk", key)
        .join(freq, "__pk")
        .filter(F.col("__dfreq") <= max_doc_freq)
        .select(id_col, "pidx", "passage")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("pidx", "passage"))).getField("passage"),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = passages.groupBy(id_col).agg(F.count("*").alias("__n_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


def intra_doc_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_words: int = 10,
) -> DataFrame:
    """Intra-document repetition removal (the dedup side of Gopher-
    style repetition filters): within EACH document, keep only the
    first occurrence of every ``passage_words``-word passage and
    reassemble in order — collapsing copy-paste loops, repeated
    boilerplate stanzas, and scraper echo artifacts while leaving
    cross-document duplication untouched (that's
    :func:`passage_dedup`'s job).

    Returns ``(id_col, clean_text, n_kept, n_dropped)`` for every
    document (an unrepetitive doc round-trips unchanged).

    Scale shape (100 TB): entirely per-document — passages come from
    :func:`passage_table` with no shuffle; every later exchange is
    keyed by doc id (the min-pidx window by doc id and passage, the
    reassembly and count aggregates by doc id); no corpus-wide
    frequency table, no cross-doc exchange at all.
    """
    passages = passage_table(df, id_col, text_col, passage_words)
    win = Window.partitionBy(id_col, "passage")
    kept = passages.withColumn("__first", F.min("pidx").over(win)).filter(
        F.col("pidx") == F.col("__first")
    )
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("pidx", "passage"))).getField("passage"),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = passages.groupBy(id_col).agg(F.count("*").alias("__n_total"))
    return totals.join(out, id_col).select(
        F.col(id_col),
        "clean_text",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        (F.col("__n_total") - F.col("n_kept")).cast("bigint").alias("n_dropped"),
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp: Column | None = None,
) -> DataFrame:
    """Snapshot-over-corpus dedup: from a NEW batch of documents keep
    only those whose normalized fingerprint (a) does not already exist
    in the standing corpus and (b) is first (min id) within the new
    batch itself. This is the shape a crawl pipeline runs every
    ingest: dedup the delta against everything already accepted
    without re-deduping the corpus.

    Scale shape (100 TB corpus, small-ish delta): the corpus side is
    column-pruned to the single 128-bit fingerprint before the join —
    the scan never reads corpus text — and the anti join keys on the
    digest, so exchange width is 16 bytes/row. In production the
    corpus fingerprints live in a compacted store (the parquet output
    of the previous run) rather than being recomputed; the operator
    only needs a (fp) relation on the right side. Within-batch
    keep-first reuses :func:`exact_dedup`'s min-id contract.

    ``fp`` overrides the content key (default: full-text normalized
    fingerprint) — e.g. a prefix fingerprint for fuzzy crawl dedup or
    a URL hash.
    """
    fp_expr = fingerprint(F.col(text_col)) if fp is None else fp
    corpus_fp = corpus_df.select(fp_expr.alias("__fp")).distinct()
    fresh = (
        new_df.withColumn("__fp", fp_expr)
        .join(corpus_fp, "__fp", "left_anti")
    )
    keep = (
        fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    )
    return fresh.join(keep, id_col, "left_semi").drop("__fp")


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every positional k-word
    shingle, then keep only the MINIMUM hash of each ``window``
    consecutive shingles. Guarantees: any shared run of at least
    ``k + window - 1`` words between two documents contributes at
    least one SHARED fingerprint, while the selected set is ~``2/
    (window+1)`` of the full shingle table — the same shared-key
    equi-join plan as the Jaccard family at a fraction of the
    exchange width (the 100 TB knob: raise ``window``, trade recall
    floor for shuffle bytes).

    Returns (id, fp) DISTINCT rows. Same shingle conventions as
    :func:`shingle_sets` (the full k-token windows of
    :func:`operators.text.token_windows`; docs with <= k tokens
    contribute their whole re-joined text), and
    the engine-portable md5-prefix hash (the `_PAIR_H`/`_neg_bucket`
    parity idiom) so a DuckDB oracle reproduces every fingerprint
    bit-for-bit. Docs with fewer than ``window`` shingles keep the
    minimum over what they have — every doc emits >= 1 fingerprint,
    the standard winnowing boundary rule.
    """
    hashed = (
        token_windows(df, k, id_col, text_col)
        .filter(F.col("pos") <= F.greatest(F.col("n") - k, F.lit(0)))
        .select(
            F.col(id_col),
            F.greatest(F.col("n") - (k - 1), F.lit(1)).alias("__nsh"),
            F.col("pos").alias("__pos"),
            F.conv(F.substring(F.md5("window"), 1, 8), 16, 10).cast("bigint").alias("__h"),
        )
    )
    # min over each `window` consecutive shingles; a doc with fewer
    # shingles than the window keeps one frame, the min over all of them
    wmin = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    return (
        hashed.withColumn("__m", F.min("__h").over(wmin))
        .filter(F.col("__pos") <= F.greatest(F.col("__nsh") - window, F.lit(0)))
        .select(F.col(id_col), F.col("__m").alias("fp"))
        .distinct()
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_run: int = 8,
    hash_key: bool = False,
) -> DataFrame:
    """EXACT-SUBSTRING dedup REMOVAL (the Lee et al. 2022 ExactSubstr
    shape, word-granular): positions lying inside duplicated k-word
    shingle occurrences are marked covered, maximal covered runs of at
    least ``min_run`` tokens are REMOVED, and each document's
    survivors reassemble in order — span removal, not doc flagging
    (the winnowing key's complement).

    Semantics, deterministic by construction: a shingle occurrence
    (doc, pos) is DUPLICATED iff its shingle occurs elsewhere in the
    corpus (another doc or another position of the same doc) and the
    occurrence is not the shingle's canonical first occurrence
    (smallest (doc, pos)) — so the earliest copy of a shared run keeps
    its text, later copies lose it (keep-first, matching the exact-
    dedup family). Any inter-doc or intra-doc repeated run of ≥
    ``max(min_run, k)`` tokens is guaranteed caught: all its shingles
    are duplicated, so the non-canonical copies are fully covered.
    Docs with < ``k`` tokens carry no shingles and pass through whole.

    Returns ``(id_col, clean_text, n_removed, n_total)`` — every input
    doc survives (a fully-duplicated doc returns ``clean_text = ''``),
    the passage_dedup lineage contract.

    Scale shape (100 TB): there is NO pair join anywhere — unlike the
    fingerprint-pair families this is: token and shingle rows from
    one :func:`operators.text.token_windows` pass (no shuffle), ONE
    shuffle by shingle for the duplicated-occurrence window (count +
    first-occurrence rank; a boilerplate shingle costs its occurrence
    count linearly, never count²), a coverage explode of ×k, and
    doc-keyed run/rebuild windows. Everything is
    engine-portable integers/strings, so the whole removal is
    DuckDB-oracle-exact (q_llm_substring_dedup). ``hash_key=True`` is
    the production wire shape (the passage_dedup precedent): the
    occurrence shuffle keys on ``xxhash64(shingle)`` — 8 bytes/row
    instead of the raw k-word string, the dominant exchange width cut;
    a 64-bit collision conflating two shingles is ~2^-64/pair
    (rows-only key, equivalence-tested against the string twin).
    """
    toks = persist_if_uncached(token_windows(df, k, id_col, text_col))
    occ = toks.filter(F.col("pos") + k <= F.col("n")).select(
        id_col, "pos", F.col("window").alias("s")
    )
    if hash_key:
        occ = occ.select(id_col, "pos", F.xxhash64("s").alias("s"))
    ws = Window.partitionBy("s")
    dup = (
        occ.withColumn("__cnt", F.count(F.lit(1)).over(ws))
        .withColumn(
            "__rk",
            F.row_number().over(ws.orderBy(id_col, "pos")),
        )
        .filter((F.col("__cnt") > 1) & (F.col("__rk") > 1))
        .select(id_col, "pos")
    )
    cov = (
        dup.select(
            id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p")
        )
        .distinct()
    )
    wr = Window.partitionBy(id_col).orderBy("p")
    runs = cov.withColumn("__grp", F.col("p") - F.row_number().over(wr))
    dropped = (
        runs.withColumn(
            "__len", F.count(F.lit(1)).over(Window.partitionBy(id_col, "__grp"))
        )
        .filter(F.col("__len") >= min_run)
        .select(id_col, F.col("p").alias("pos"))
    )
    kept = toks.join(dropped, [id_col, "pos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    tot = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_total"))
    return (
        tot.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("__n_total") - F.coalesce("__n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.col("__n_total").cast("bigint").alias("n_total"),
        )
    )


#: content-defined chunking hash parameters — module-level so the engine
#: plan and every oracle interpolate the SAME constants (the _QUOTA_TOKENS
#: discipline). Window 8 chars, polynomial base 257, modulus 2^31 keeps
#: every term and the 8-term sum exactly inside int64 on both engines
#: (max codepoint 0x10FFFF * (2^31-1) * 8 ~ 1.9e16 << 2^63).
CDC_WINDOW = 8
CDC_BASE = 257
CDC_MOD = 1 << 31
CDC_DIVISOR = 32  # boundary when h % divisor == 0 -> mean chunk ~32 chars


def cdc_hash_sql(text_expr: str, start_expr: str, w: int = CDC_WINDOW) -> str:
    """The fixed-window rolling-hash as ONE shared SQL text evaluated by
    both engines (the _CUPED_FINAL discipline): the hash of the w-gram
    starting at 1-based ``start_expr`` inside ``text_expr`` is

        ( sum_j ascii(text[start+j]) * BASE^j mod MOD ) % MOD

    with the per-offset powers folded to integer literals. Everything
    is exact int64 arithmetic; ``ascii``/``substr`` return identical
    codepoints in Spark and DuckDB (probed: 'a'=97, '€'=8364)."""
    pows = [pow(CDC_BASE, j, CDC_MOD) for j in range(w)]
    # the BIGINT cast is load-bearing: Spark's ascii() is INT and the
    # int*int product overflows 32 bits under ANSI before widening
    terms = " + ".join(
        f"CAST(ascii(substr({text_expr}, ({start_expr}) + {j}, 1)) AS BIGINT)"
        f" * {pows[j]}"
        for j in range(w)
    )
    return f"(({terms}) % {CDC_MOD})"


def cdc_chunks_sql_ctes(table: str = "documents") -> str:
    """The DuckDB CTE chain reproducing :func:`cdc_chunk_table` bit-for-
    bit, ending in ``chunks(doc_id, cs, ce, chunk_len, chunk_hash)`` —
    ONE shared text used by every CDC oracle (q_llm_cdc_chunks,
    q_stream_cdc_ingest) so the engine and all oracles interpolate the
    same hash constants and boundary rules."""
    w, d = CDC_WINDOW, CDC_DIVISOR
    return f"""base AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM {table}
    ),
    cand AS (
      SELECT doc_id, text, i
      FROM base, unnest(range({w}, len + 1)) AS r(i)
      WHERE len >= {w}
    ),
    bnd AS (
      SELECT doc_id, i FROM cand
      WHERE {cdc_hash_sql('text', f'i - {w - 1}')} % {d} = 0
    ),
    bounds AS (
      SELECT DISTINCT doc_id, i FROM (
        SELECT doc_id, i FROM bnd
        UNION ALL
        SELECT doc_id, len AS i FROM base WHERE len > 0)
    ),
    ranges AS (
      SELECT doc_id,
             coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
               AS cs,
             i AS ce
      FROM bounds
    ),
    chunks AS (
      SELECT r.doc_id, cs, ce, ce - cs + 1 AS chunk_len,
             md5(substr(b.text, cs, ce - cs + 1)) AS chunk_hash
      FROM ranges r JOIN base b USING (doc_id)
    )"""


def cdc_chunk_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    hash_key: bool = False,
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (the gear/Rabin rolling-hash family of
    LBFS/FastCDC): split each document at positions where the rolling
    hash of the trailing ``w``-char window satisfies ``h % divisor ==
    0``. Because a boundary depends only on the LOCAL w chars before
    it, inserting or deleting bytes re-aligns every boundary after the
    edit — the duplication that position-fixed shingles miss (a 1-char
    prefix insertion shifts every fixed shingle; it shifts NO cdc
    boundary beyond the first window). This is the missing member of
    the exact-substring family (r9 verdict #3).

    Deliberately NO min/max chunk-size clamps: the clamped (FastCDC)
    variant makes each boundary depend on the previous one — a
    sequential chain per doc, and not SQL-expressible — while the pure
    local rule keeps every boundary independently decidable, hence one
    codegen pass AND DuckDB-oracle-exact (q_llm_cdc_chunks). Mean chunk
    length is geometric with mean ``divisor`` chars; the document tail
    always closes the final chunk.

    Returns one row per chunk: ``(id_col, chunk_start, chunk_len,
    chunk_hash)`` with ``chunk_hash = md5(chunk text)`` (reproducible
    cross-engine) — chunk-level dedup joins key on it. Scale shape
    (100 TB): per-char codegen hash (8 ascii+substr terms, no UDF, no
    explode of text bytes onto the wire), one doc-keyed window for the
    lag-ranges on PINNED partitioning (boundary rows ≈ len/divisor per
    doc), one doc-keyed self-join to slice chunk text, and downstream
    exchanges carry (id, start, len, 16 B hash) — never raw text."""
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col), F.col(text_col), F.length(text_col).alias("__len")
    )
    # ENGINE form of the boundary hash: posexplode the char stream once
    # and fold the w-gram with window lags (codegen). The textually
    # obvious form — explode positions + substr(text, pos+j, 1) ×8 —
    # computes the same integers but is O(pos) PER CALL on UTF8String
    # (measured 12 s at sf0.1 vs 0.9 s for this form); the oracle keeps
    # the substring text (cdc_hash_sql) because DuckDB only runs at
    # oracle SFs. lag-based term j reads the char at offset j of the
    # gram ENDING at this row: lag(code, w-1-j).
    chars = (
        base.filter(F.col("__len") >= w)
        .select(
            id_col,
            F.posexplode(F.split(F.col(text_col), "")).alias("__p0", "__ch"),
        )
        .filter(F.length("__ch") == 1)  # split("") may emit a trailing ""
        .select(
            id_col,
            (F.col("__p0") + 1).alias("__i"),
            F.ascii("__ch").cast("bigint").alias("__c"),
        )
        .repartition(par, id_col)
    )
    pows = [pow(CDC_BASE, j, CDC_MOD) for j in range(w)]
    wch = Window.partitionBy(id_col).orderBy("__i")
    h = F.col("__c") * F.lit(pows[w - 1])  # j = w-1: lag 0 = this char
    for j in range(w - 1):
        h = h + F.lag("__c", w - 1 - j).over(wch) * F.lit(pows[j])
    bnd = (
        chars.withColumn("__h", h % CDC_MOD)
        .filter((F.col("__i") >= w) & (F.col("__h") % divisor == 0))
        .select(id_col, "__i")
    )
    sentinel = base.filter(F.col("__len") > 0).select(
        id_col, F.col("__len").alias("__i")
    )
    bounds = bnd.union(sentinel).distinct().repartition(par, id_col)
    wd = Window.partitionBy(id_col).orderBy("__i")
    ranges = bounds.select(
        F.col(id_col),
        (F.coalesce(F.lag("__i").over(wd), F.lit(0)) + 1).alias("__cs"),
        F.col("__i").alias("__ce"),
    )
    chunk_text = F.expr(f"substring({text_col}, __cs, __ce - __cs + 1)")
    # hash_key=True is the production WIRE shape (the substring_dedup
    # precedent): the chunk-hash shuffle keys on xxhash64 — 8 B/row
    # instead of the 32-char md5 hex; not DuckDB-reproducible, so the
    # hashed twin is rows-only, gated by report-equality to this one.
    chash = (
        F.xxhash64(chunk_text) if hash_key else F.md5(chunk_text)
    ).alias("chunk_hash")
    return ranges.join(base.select(id_col, text_col), id_col).select(
        F.col(id_col),
        F.col("__cs").cast("bigint").alias("chunk_start"),
        (F.col("__ce") - F.col("__cs") + 1).cast("bigint").alias("chunk_len"),
        chash,
    )


def _cdc_doc_chunks(
    text: str, w: int, divisor: int, pows: "np.ndarray"
) -> "tuple[np.ndarray, np.ndarray]":
    """Boundary scan for ONE document: vectorized numpy rolling hash
    over CODEPOINTS. Returns (starts_0based, ends_1based_exclusive…
    actually inclusive 1-based ends) — empty for an empty doc."""
    import numpy as np

    n = len(text)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    if n >= w:
        # utf-32-le view = codepoints directly (python-slice-consistent)
        codes = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        h = np.zeros(n - w + 1, dtype=np.int64)
        for j in range(w):
            h += codes[j : n - w + 1 + j] * pows[j]
        # max pre-mod value: 0x10FFFF * (2^31-1) * 8 ~ 1.9e16 << 2^63
        ends = np.flatnonzero((h % CDC_MOD) % divisor == 0) + w
    else:
        ends = np.empty(0, dtype=np.int64)
    if ends.shape[0] == 0 or ends[-1] != n:
        ends = np.append(ends, n)  # the tail sentinel closes the doc
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1]
    return starts, ends


def cdc_chunk_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    hash_key: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """The PRODUCTION form of :func:`cdc_chunk_table` (r10 verdict #3):
    one Arrow-batched ``mapInPandas`` pass whose numpy kernel computes
    each document's rolling-hash boundaries LOCALLY and emits CHUNK rows
    only — ~len/divisor rows per doc — so NO char-granular data ever
    crosses a shuffle (the windowed twin posexplodes the char stream:
    ~8-16 B of wire per corpus CHARACTER, SCALE.md measured 116.8 MB at
    the 10× fixture; the boundary rule is doc-local, so that exchange
    was pure plumbing). Same output schema and bit-identical rows:

    - boundary rule: hash of the w-gram ENDING at 1-based position i
      (``sum_j code[i-w+j]·BASE^j mod 2^31``), boundary iff ``i >= w``
      and ``h % divisor == 0``; the doc tail always closes the final
      chunk — exactly :func:`cdc_hash_sql`, shared with every oracle.
    - ``chunk_hash``: md5 hex of the chunk text's UTF-8 bytes (DuckDB-
      reproducible, same oracle as the windowed form), or with
      ``hash_key=True`` the first 8 md5 bytes as a signed int64 — the
      8 B/row wire key for downstream chunk-identity shuffles (the
      xxhash64 twin's role, without a JVM round trip; rows-only, gated
      by report-equality to the md5 form).
    - CODEPOINT semantics throughout (python slicing + utf-32 view),
      matching DuckDB's substr/ascii even for astral-plane chars —
      where the windowed form's split("") sees UTF-16 units (r10
      advice; tests/test_llm_ops.py::test_cdc_kernel_astral_codepoints).

    The pinned repartition spreads fixture-small inputs across tasks
    (the capped_sessions AQE lesson); at scale the doc-level exchange
    moves corpus bytes ONCE, vs per-char rows in the windowed form."""
    import hashlib

    import numpy as np
    import pandas as pd

    pows = np.array(
        [pow(CDC_BASE, j, CDC_MOD) for j in range(w)], dtype=np.int64
    )
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    id_type = df.schema[id_col].dataType.simpleString()
    hash_type = "bigint" if hash_key else "string"

    def scan(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if pdf.empty:
                continue
            out_id: list = []
            out_s: list[int] = []
            out_l: list[int] = []
            out_h: list = []
            for did, text in zip(
                pdf[id_col].to_numpy(), pdf[text_col].to_numpy()
            ):
                if text is None:
                    continue
                starts, ends = _cdc_doc_chunks(text, w, divisor, pows)
                for s, e in zip(starts, ends):
                    digest = hashlib.md5(
                        text[s:e].encode("utf-8")
                    ).digest()
                    out_id.append(did)
                    out_s.append(int(s) + 1)
                    out_l.append(int(e) - int(s))
                    out_h.append(
                        int.from_bytes(digest[:8], "big", signed=True)
                        if hash_key
                        else digest.hex()
                    )
            if out_id:
                yield pd.DataFrame(
                    {
                        id_col: out_id,
                        "chunk_start": pd.Series(out_s, dtype="int64"),
                        "chunk_len": pd.Series(out_l, dtype="int64"),
                        "chunk_hash": out_h,
                    }
                )

    return df.select(id_col, text_col).repartition(n_parts, id_col).mapInPandas(
        scan,
        schema=(
            f"{id_col} {id_type}, chunk_start bigint, chunk_len bigint, "
            f"chunk_hash {hash_type}"
        ),
    )


def cdc_dedup_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    hash_key: bool = False,
    impl: str = "window",
) -> DataFrame:
    """Per-document CDC duplication report over `cdc_chunk_table`
    (``impl="window"``, the oracle-shaped codegen twin) or
    `cdc_chunk_rows` (``impl="kernel"``, the zero-char-exchange
    production form — r10 verdict #3; report-equality gates at sf0.01
    and sf0.1 in tests/test_llm_ops.py):
    keep-first at chunk granularity (a chunk occurrence is DUPLICATED
    iff its hash occurs elsewhere in the corpus and it is not the
    canonical smallest-(doc, start) occurrence — the substring_dedup
    rule at chunk level). Returns ``(id_col, n_chunks, n_dup_chunks,
    dup_chars, total_chars, dup_char_frac)``; the frac is NULL for an
    empty doc on BOTH engines (guarded CASE — the ratio-denominator
    rule). One chunk-hash-keyed shuffle (16 B keys), one doc-keyed
    aggregate: linear at any corpus size."""
    if impl not in ("window", "kernel"):
        raise ValueError(f"impl must be 'window' or 'kernel', got {impl!r}")
    chunker = cdc_chunk_rows if impl == "kernel" else cdc_chunk_table
    chunks = chunker(df, id_col, text_col, w, divisor, hash_key)
    wh = Window.partitionBy("chunk_hash")
    is_dup = (F.col("__cnt") > 1) & (F.col("__rk") > 1)
    marked = chunks.withColumn("__cnt", F.count(F.lit(1)).over(wh)).withColumn(
        "__rk", F.row_number().over(wh.orderBy(id_col, "chunk_start"))
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.when(is_dup, 1).otherwise(0)).cast("bigint").alias("n_dup_chunks"),
        F.sum(F.when(is_dup, F.col("chunk_len")).otherwise(0))
        .cast("bigint")
        .alias("dup_chars"),
    )
    tot = df.select(
        F.col(id_col), F.length(text_col).cast("bigint").alias("total_chars")
    )
    return tot.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0)).cast("bigint").alias("n_dup_chunks"),
        F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
        "total_chars",
        F.when(
            F.col("total_chars") > 0,
            F.coalesce("dup_chars", F.lit(0)).cast("double")
            / F.col("total_chars").cast("double"),
        ).alias("dup_char_frac"),
    )


def cdc_ingest_delta(
    delta: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: Sequence[str] = ("source",),
    w: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    impl: str = "kernel",
) -> tuple[DataFrame, DataFrame]:
    """The batch core of `q_stream_cdc_ingest`: CDC-chunk one delta
    (default the zero-char-exchange :func:`cdc_chunk_rows` kernel —
    bit-identical chunks to the windowed oracle twin, so the standing
    oracle is unchanged; r10 verdict #3),
    probe the standing chunk-hash ``store`` (one column: chunk_hash),
    admit docs contributing >= 1 NOVEL chunk (not in store, and this
    doc is the chunk's within-delta first occurrence by smallest id).
    Returns ``(accepted, new_hashes)``: accepted = (id, *keep_cols,
    n_chunks, n_novel); new_hashes = the batch's distinct novel hashes
    — appending exactly these keeps the store equal to hist ∪ chunks
    of every previous doc (every first occurrence of a non-store chunk
    lives in an ACCEPTED doc, so novel hashes close the store), which
    is what makes any time-ordered batch split admit identically.

    Scale: one codegen chunk pass over the delta, one hash anti-join
    against the id-width store, one within-delta window — never
    delta × corpus text."""
    if impl not in ("window", "kernel"):
        raise ValueError(f"impl must be 'window' or 'kernel', got {impl!r}")
    chunker = cdc_chunk_rows if impl == "kernel" else cdc_chunk_table
    chunks = chunker(delta, id_col, text_col, w, divisor)
    # feeds novelty + totals + store append: one materialization, also
    # cutting lineage so the store append never races its own input
    chunks = chunks.localCheckpoint(eager=True)
    wfirst = Window.partitionBy("chunk_hash")
    novel = (
        chunks.join(store, "chunk_hash", "left_anti")
        .withColumn("__first", F.min(id_col).over(wfirst))
        .filter(F.col(id_col) == F.col("__first"))
    )
    acc = novel.groupBy(id_col).agg(
        F.countDistinct("chunk_hash").cast("bigint").alias("n_novel")
    )
    tot = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    accepted = (
        delta.select(id_col, *keep_cols).join(tot, id_col).join(acc, id_col)
    )
    new_hashes = novel.select("chunk_hash").distinct()
    return accepted, new_hashes


def quota_admit_delta(
    delta: DataFrame,
    totals: DataFrame,
    quota: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> tuple[DataFrame, DataFrame]:
    """Per-source token-budget ADMISSION for one ingest delta — the
    budget member of the ingest-delta family (beside
    :func:`near_dup_ingest_delta` and similarity.semdedup_ingest_delta),
    the batch core of the `q_stream_quota_ingest` key.

    ``totals`` is the standing store: one ``(source, total)`` row per
    source = the stream position already consumed. A delta doc is
    admitted iff its PREFIX POSITION — standing total + the within-delta
    per-source running sum in (source, id) order — stays <= ``quota``.
    Returns ``(admitted, new_totals)`` where ``new_totals`` advances
    every source by the delta's FULL token mass, admitted or not.

    Prefix (not admit-if-fits) semantics are deliberate: admission then
    depends only on each doc's cumulative position in the (source, id)
    order, NOT on how the stream was batched — any batch split yields
    the same admitted set as one batch, which is what makes the
    streaming key oracle-able (one window prefix sum in DuckDB) and the
    store merge-safe. Scale: one source-keyed window over the DELTA
    only; ``totals`` is dimension-sized (#sources) and broadcasts."""
    w = Window.partitionBy(source_col).orderBy(id_col)
    cum = delta.withColumn("__cum", F.sum(tokens_col).over(w))
    admitted = (
        cum.join(F.broadcast(totals), source_col, "left")
        .fillna(0, subset=["total"])
        .filter(F.col("total") + F.col("__cum") <= quota)
        .select(id_col, source_col, tokens_col)
    )
    delta_tot = delta.groupBy(source_col).agg(
        F.sum(tokens_col).alias("__delta_tok")
    )
    new_totals = totals.join(delta_tot, source_col, "full").select(
        source_col,
        (
            F.coalesce(F.col("total"), F.lit(0))
            + F.coalesce(F.col("__delta_tok"), F.lit(0))
        ).cast("bigint").alias("total"),
    )
    return admitted, new_totals


def ingest_pipeline_delta(
    delta: DataFrame,
    fp_index: DataFrame,
    totals: DataFrame,
    quota: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One batch of the COMPOSED ingest pipeline (the
    `q_stream_ingest_pipeline` core): exact dedup of ``delta``
    (columns doc_id, source, fp, n_tokens) against the standing
    ``fp_index`` (one ``fp`` column), within-delta keep-first per
    fingerprint (stream-order winner), then :func:`quota_admit_delta`
    against ``totals``. Returns ``(admitted, fresh_fps, new_totals)`` —
    the sink rows plus BOTH store deltas (fresh fps append to the
    index whether or not quota admitted them: a quota rejection must
    not resurrect later duplicates).

    Every stage is batch-split invariant given deltas arrive in doc_id
    order (first-occurrence-wins dedup + prefix-position quota), which
    is what lets the streaming key carry an exact DuckDB oracle; the
    explicit two-delta contract lives in
    tests/test_incremental_passage_dedup.py."""
    w = Window.partitionBy("fp").orderBy("doc_id")
    fresh = (
        delta.join(F.broadcast(fp_index), "fp", "left_anti")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    admitted, new_totals = quota_admit_delta(
        fresh.select("doc_id", "source", "n_tokens"), totals, quota
    )
    return admitted, fresh.select("fp"), new_totals
