"""Unit tests for passage-level boilerplate removal and ingest-delta
(incremental) dedup — synthetic corpora with planted boilerplate /
duplicates, plus the null-text contract and the Q18 single-scan plan
pin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from kafka_streams_clojure_spark.operators.dedup import incremental_dedup, passage_dedup
from kafka_streams_clojure_spark.plans import physical_plan

_Q = entrymod.queries()

_BOILER = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"  # exactly one 10-word passage


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_passage_dedup_drops_shared_keeps_unique(spark):
    u1 = " ".join(f"u{i}" for i in range(10))
    u2 = " ".join(f"v{i}" for i in range(10))
    docs = _mk_docs(
        spark,
        [
            (1, f"{_BOILER} {u1}"),
            (2, f"{_BOILER} {u2}"),
            (3, _BOILER),  # fully boilerplate
        ],
    )
    out = {r.doc_id: r for r in passage_dedup(docs).collect()}
    assert out[1].clean_text == u1 and out[1].n_kept == 1 and out[1].n_dropped == 1
    assert out[2].clean_text == u2 and out[2].n_kept == 1 and out[2].n_dropped == 1
    # the fully-boilerplate doc SURVIVES with empty text (lineage kept)
    assert out[3].clean_text == "" and out[3].n_kept == 0 and out[3].n_dropped == 1


def test_passage_dedup_preserves_order_and_tail(spark):
    """Order and the short tail passage, then passage_table and
    passage_dedup against a pure-Python reference on the token-window
    edge cases; passage_table plans no shuffle at all."""
    from kafka_streams_clojure_spark.operators.dedup import passage_table
    from tests.test_llm_ops import _edge_docs, _split_ref

    words = [f"w{i}" for i in range(23)]  # 2 full passages + 3-word tail
    rows = [(1, " ".join(words))] + _edge_docs(10)
    docs = _mk_docs(spark, rows)
    out = {r.doc_id: (r.clean_text, r.n_kept, r.n_dropped) for r in passage_dedup(docs).collect()}
    assert out[1] == (" ".join(words), 3, 0)  # unique passages: identity

    table = passage_table(docs)
    plan = physical_plan(table)
    assert "Exchange" not in plan and "Window" not in plan, plan
    chunks: dict[int, list[str]] = {}
    for i, text in rows:
        if text is not None:
            toks = _split_ref(text)
            chunks[i] = [" ".join(toks[p : p + 10]) for p in range(0, len(toks), 10)]
    got = {(r.doc_id, r.pidx, r.passage) for r in table.collect()}
    assert got == {(i, j, c) for i, cs in chunks.items() for j, c in enumerate(cs)}
    dfreq: dict[str, set[int]] = {}
    for i, cs in chunks.items():
        for c in cs:
            dfreq.setdefault(c, set()).add(i)
    for i, cs in chunks.items():
        keep = [c for c in cs if len(dfreq[c]) <= 1]
        assert out[i] == (" ".join(keep), len(keep), len(cs) - len(keep)), i
    assert set(out) == set(chunks)


def test_passage_dedup_within_doc_repeat_not_boilerplate(spark):
    # the SAME passage twice in ONE doc is 1 distinct doc -> kept twice
    docs = _mk_docs(spark, [(1, f"{_BOILER} {_BOILER}")])
    out = passage_dedup(docs).collect()[0]
    assert out.n_kept == 2 and out.clean_text == f"{_BOILER} {_BOILER}"


def test_passage_dedup_max_doc_freq_knob(spark):
    docs = _mk_docs(spark, [(1, _BOILER), (2, _BOILER), (3, _BOILER)])
    strict = {r.doc_id: r.n_kept for r in passage_dedup(docs, max_doc_freq=1).collect()}
    loose = {r.doc_id: r.n_kept for r in passage_dedup(docs, max_doc_freq=3).collect()}
    assert strict == {1: 0, 2: 0, 3: 0}
    assert loose == {1: 1, 2: 1, 3: 1}


def test_passage_dedup_null_text_dropped_both_engines(spark, duck):
    """NULL text tokenizes to NULL in both engines -> the doc is absent
    from the output (same contract as the DuckDB oracle, where
    unnest(NULL) yields no rows)."""
    docs = _mk_docs(spark, [(1, "a b c"), (2, None)])
    ids = {r.doc_id for r in passage_dedup(docs).collect()}
    assert ids == {1}
    n = duck.sql(
        "SELECT count(*) FROM (SELECT unnest(string_split_regex(CAST(NULL AS VARCHAR), '\\s+')))"
    ).fetchall()[0][0]
    assert n == 0


def test_incremental_dedup_corpus_and_batch_contract(spark):
    corpus = _mk_docs(spark, [(0, "already seen text here"), (2, "other corpus doc")])
    new = _mk_docs(
        spark,
        [
            (1, "already seen text here"),  # dup of corpus -> dropped
            (3, "brand new content one"),  # survives
            (5, "repeated in batch twice"),  # first holder -> survives
            (7, "repeated in batch twice"),  # later holder -> dropped
        ],
    )
    ids = {r.doc_id for r in incremental_dedup(new, corpus).collect()}
    assert ids == {3, 5}


def test_incremental_dedup_normalizes_whitespace_case(spark):
    corpus = _mk_docs(spark, [(0, "Hello   World")])
    new = _mk_docs(spark, [(1, "hello world"), (3, "hello there")])
    ids = {r.doc_id for r in incremental_dedup(new, corpus).collect()}
    assert ids == {3}


def test_tpch_q18_single_lineitem_scan(spark, sf_dir):
    """The Q18 rewrite's whole point: ONE lineitem scan (the textbook
    IN-subquery plan scans it twice)."""
    plan = physical_plan(_Q["q_sql_tpch_q18"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan


def test_intra_doc_dedup_collapses_repeats(spark):
    from kafka_streams_clojure_spark.operators.dedup import intra_doc_dedup

    u1 = " ".join(f"u{i}" for i in range(10))
    docs = _mk_docs(
        spark,
        [
            (1, f"{_BOILER} {u1} {_BOILER}"),  # repeat of passage 0 at pidx 2
            (2, f"{u1} {u1} {u1}"),  # 3x the same passage
            (3, u1),  # no repetition: identity
        ],
    )
    out = {r.doc_id: r for r in intra_doc_dedup(docs).collect()}
    assert out[1].clean_text == f"{_BOILER} {u1}" and out[1].n_dropped == 1
    assert out[2].clean_text == u1 and out[2].n_kept == 1 and out[2].n_dropped == 2
    assert out[3].clean_text == u1 and out[3].n_dropped == 0


def test_intra_doc_dedup_is_per_doc_only(spark):
    """Cross-document duplication is NOT touched (that's passage_dedup):
    two docs with identical text both survive unchanged."""
    from kafka_streams_clojure_spark.operators.dedup import intra_doc_dedup

    docs = _mk_docs(spark, [(1, _BOILER), (2, _BOILER)])
    out = {r.doc_id: r.clean_text for r in intra_doc_dedup(docs).collect()}
    assert out == {1: _BOILER, 2: _BOILER}


def test_passage_dedup_hash_key_path_identical(spark):
    """The xxhash64-keyed production probe must produce the same result
    as the string-keyed oracle path."""
    u1 = " ".join(f"u{i}" for i in range(10))
    u2 = " ".join(f"v{i}" for i in range(10))
    docs = _mk_docs(
        spark,
        [(1, f"{_BOILER} {u1}"), (2, f"{_BOILER} {u2}"), (3, _BOILER), (4, u1 + " zz")],
    )
    a = sorted(map(tuple, passage_dedup(docs).collect()))
    b = sorted(map(tuple, passage_dedup(docs, hash_key=True).collect()))
    assert a == b


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_near_dup_ingest_cross_batch_contract(spark):
    """r6 verdict #5's invariant gate for the online banded-MinHash
    ingest (q_stream_near_dup_ingest's batch core): (a) a near-copy of
    an INDEXED doc is dropped, an exact re-crawl is dropped, fresh
    content is accepted; (b) the CROSS-BATCH contract — appending an
    accepted batch's band rows to the index makes a later batch's
    near-copy of it a dup, which is the whole point of returning
    accepted_band_rows."""
    from kafka_streams_clojure_spark.operators.dedup import (
        minhash_band_rows,
        near_dup_ingest_delta,
    )

    text_a = _words("a", 30)
    text_b = _words("b", 30)
    text_c = _words("c", 30)
    corpus = _mk_docs(spark, [(0, text_a)])
    index = minhash_band_rows(corpus)

    near_a = text_a.replace("a15", "CHANGED")  # 1 word off: jaccard ~0.85
    batch1 = _mk_docs(spark, [(10, near_a), (11, text_b), (12, text_a)])
    acc1, bands1 = near_dup_ingest_delta(batch1, index)
    got1 = {r.doc_id for r in acc1.collect()}
    assert got1 == {11}, got1  # near-copy 10 and exact re-crawl 12 dropped

    index2 = index.unionByName(bands1)
    near_b = text_b.replace("b7", "ALTERED")
    batch2 = _mk_docs(spark, [(20, near_b), (21, text_c)])
    acc2, _ = near_dup_ingest_delta(batch2, index2)
    got2 = {r.doc_id for r in acc2.collect()}
    assert got2 == {21}, got2  # 20 is a dup of BATCH-1's acceptance

    # without the band append, batch 2's near-copy would sail through —
    # proves the cross-batch drop really came from bands1
    acc2_stale, _ = near_dup_ingest_delta(batch2, index)
    assert {r.doc_id for r in acc2_stale.collect()} == {20, 21}


def test_semdedup_ingest_cross_batch_contract(spark):
    """semdedup_ingest_delta (embedding-space ingest dedup): exact and
    near (cosine>=0.95) copies of INDEXED vectors are dropped; fresh
    orthogonal vectors survive; a batch-2 copy of a batch-1 ACCEPTANCE
    is dropped only when batch 1's rows were appended to the index —
    the cross-batch contract, mirroring the MinHash twin above."""
    import numpy as np
    import pandas as pd

    from kafka_streams_clojure_spark.operators.similarity import (
        _assign_cells,
        kmeans_centroids,
        semdedup_ingest_delta,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 64)).astype(np.float32)

    def _mk(ids_vecs):
        pdf = pd.DataFrame(
            {"vec_id": [i for i, _ in ids_vecs],
             "embedding": [list(map(float, v)) for _, v in ids_vecs]}
        )
        return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

    hist = _mk(list(enumerate(base)))
    cents = kmeans_centroids(hist, k=None, iters=2).persist()
    index = _assign_cells(
        hist.select("vec_id", "embedding"), cents, id_cols=["vec_id"]
    ).select("vec_id", "cell", "embedding").persist()

    near5 = base[5] + 0.01 * rng.standard_normal(64).astype(np.float32)  # cos ~1
    fresh_a = rng.standard_normal(64).astype(np.float32)
    fresh_b = rng.standard_normal(64).astype(np.float32)
    batch1 = _mk([(100, base[7]), (101, near5), (102, fresh_a)])
    acc1, rows1 = semdedup_ingest_delta(batch1, index, cents)
    assert {r.vec_id for r in acc1.collect()} == {102}

    index2 = index.unionByName(rows1)
    near_fresh_a = fresh_a + 0.01 * rng.standard_normal(64).astype(np.float32)
    batch2 = _mk([(200, near_fresh_a), (201, fresh_b)])
    acc2, _ = semdedup_ingest_delta(batch2, index2, cents)
    assert {r.vec_id for r in acc2.collect()} == {201}

    # without the append, batch 2's near-copy of 102 sails through —
    # proves the cross-batch drop came from rows1
    acc2_stale, _ = semdedup_ingest_delta(batch2, index, cents)
    assert {r.vec_id for r in acc2_stale.collect()} == {200, 201}
    cents.unpersist()
    index.unpersist()


def test_semdedup_ingest_registered_key_content(spark, sf_dir):
    """The registered key's fixture content is deterministic: every
    stream vector whose vec_id ≡ 0 (mod 3) IS the standing index
    (cosine 1.0 with itself → dropped); the near-orthogonal fixture
    has no natural >=0.95 cross pairs, so survivors are exactly the
    non-history ids."""
    import __spark_entry__ as entrymod

    from kafka_streams_clojure_spark.queries._util import load_table

    got = {
        int(r.vec_id)
        for r in entrymod.queries()["q_stream_semdedup_ingest"](
            spark, sf_dir
        ).collect()
    }
    want = {
        int(r.vec_id)
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 3 != 0)
        .collect()
    }
    assert got == want


def test_semdedup_ingest_max_cell_guard(spark):
    """A skewed index cell beyond max_cell must fail LOUDLY naming the
    cell, never silently run the quadratic probe."""
    import numpy as np
    import pandas as pd
    import pytest

    from kafka_streams_clojure_spark.operators.similarity import (
        _assign_cells,
        kmeans_centroids,
        semdedup_ingest_delta,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 64)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": range(30), "embedding": [list(map(float, v)) for v in base]}
    )
    hist = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    cents = kmeans_centroids(hist, k=2, iters=1)
    index = _assign_cells(
        hist.select("vec_id", "embedding"), cents, id_cols=["vec_id"]
    ).select("vec_id", "cell", "embedding")
    batch = hist.limit(3)
    with pytest.raises(RuntimeError, match="max_cell"):
        semdedup_ingest_delta(batch, index, cents, max_cell=5)
    # disabling the guard (caller asserts boundedness) still works
    acc, _ = semdedup_ingest_delta(batch, index, cents, max_cell=None)
    assert acc.count() == 0  # batch rows are exact copies of the index


def test_quota_admit_cross_batch_contract(spark):
    """quota_admit_delta (q_stream_quota_ingest's batch core): (a)
    within one delta, admission is the per-source prefix cut; (b) the
    CROSS-BATCH contract — batch 2's admissions are offset by batch 1's
    standing totals; (c) batch-split invariance — two batches admit
    exactly what one combined batch admits, the property that makes the
    streaming key oracle-able; (d) totals advance by FULL batch mass,
    so a rejected doc still consumes stream position."""
    from kafka_streams_clojure_spark.operators.dedup import quota_admit_delta

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, source string, n_tokens bigint"
        )

    empty = spark.createDataFrame([], "source string, total bigint")
    quota = 100

    batch1 = mk([(1, "s", 40), (2, "s", 40), (3, "s", 40), (4, "t", 90)])
    acc1, tot1 = quota_admit_delta(batch1, empty, quota)
    assert {r.doc_id for r in acc1.collect()} == {1, 2, 4}  # 3: cum 120 > 100
    totals1 = {r.source: r.total for r in tot1.collect()}
    assert totals1 == {"s": 120, "t": 90}  # FULL mass, incl. rejected doc 3

    # batch 2: source s is exhausted (120 > 100 already); source t has
    # 10 tokens left — a 10-token doc fits exactly, an 11-token doc not
    batch2 = mk([(5, "s", 1), (6, "t", 10), (7, "t", 1), (8, "u", 50)])
    acc2, tot2 = quota_admit_delta(batch2, tot1, quota)
    assert {r.doc_id for r in acc2.collect()} == {6, 8}
    totals2 = {r.source: r.total for r in tot2.collect()}
    assert totals2 == {"s": 121, "t": 101, "u": 50}

    # batch-split invariance: one combined batch = the two-batch union
    both = mk(
        [(1, "s", 40), (2, "s", 40), (3, "s", 40), (4, "t", 90),
         (5, "s", 1), (6, "t", 10), (7, "t", 1), (8, "u", 50)]
    )
    acc_all, tot_all = quota_admit_delta(both, empty, quota)
    assert {r.doc_id for r in acc_all.collect()} == {1, 2, 4, 6, 8}
    assert {r.source: r.total for r in tot_all.collect()} == totals2


def test_ingest_pipeline_cross_batch_contract(spark):
    """ingest_pipeline_delta (q_stream_ingest_pipeline's batch core):
    (a) dedup-vs-index, within-batch keep-first and quota compose in
    one delta; (b) CROSS-BATCH — batch 2 dedups against batch 1's
    accepted fps AND is offset by batch 1's totals; (c) a batch-1 doc
    REJECTED by quota still blocks its batch-2 duplicate (fps append
    regardless of admission); (d) batch-split invariance: the two-batch
    run admits exactly what one combined batch admits."""
    from kafka_streams_clojure_spark.operators.dedup import (
        ingest_pipeline_delta,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, source string, fp string, n_tokens bigint"
        )

    empty_idx = spark.createDataFrame([], "fp string")
    empty_tot = spark.createDataFrame([], "source string, total bigint")
    quota = 100

    # fp "h" is already in the historical index; docs 2/3 share fp "a"
    # (keep-first); doc 4 eats most of source t's quota; doc 5 is over
    # quota but its fp "z" must still be recorded
    hist = spark.createDataFrame([("h",)], "fp string")
    b1 = mk(
        [
            (1, "s", "h", 10),   # dropped: fp in historical index
            (2, "s", "a", 60),   # admitted (cum 60)
            (3, "s", "a", 5),    # dropped: keep-first within batch
            (4, "s", "b", 39),   # admitted (cum 99)
            (5, "s", "z", 50),   # fresh but over quota (cum 149)
        ]
    )
    acc1, fps1, tot1 = ingest_pipeline_delta(b1, hist, empty_tot, quota)
    assert {r.doc_id for r in acc1.collect()} == {2, 4}
    assert {r.fp for r in fps1.collect()} == {"a", "b", "z"}
    assert {r.source: r.total for r in tot1.collect()} == {"s": 149}

    idx2 = hist.unionByName(fps1)
    b2 = mk(
        [
            (6, "s", "z", 1),    # dup of batch-1's quota-REJECTED doc 5
            (7, "s", "a", 1),    # dup of batch-1's acceptance
            (8, "t", "c", 90),   # new source, fits
            (9, "s", "n", 1),    # fresh, but source s is exhausted
        ]
    )
    acc2, fps2, tot2 = ingest_pipeline_delta(b2, idx2, tot1, quota)
    assert {r.doc_id for r in acc2.collect()} == {8}
    assert {r.fp for r in fps2.collect()} == {"c", "n"}
    assert {r.source: r.total for r in tot2.collect()} == {"s": 150, "t": 90}

    # batch-split invariance: one combined delta = the two-batch union
    both = mk(
        [
            (1, "s", "h", 10), (2, "s", "a", 60), (3, "s", "a", 5),
            (4, "s", "b", 39), (5, "s", "z", 50), (6, "s", "z", 1),
            (7, "s", "a", 1), (8, "t", "c", 90), (9, "s", "n", 1),
        ]
    )
    acc_all, fps_all, tot_all = ingest_pipeline_delta(
        both, hist, empty_tot, quota
    )
    assert {r.doc_id for r in acc_all.collect()} == {2, 4, 8}
    assert {r.fp for r in fps_all.collect()} == {"a", "b", "z", "c", "n"}
    assert {r.source: r.total for r in tot_all.collect()} == {
        "s": 150,
        "t": 90,
    }


def test_cdc_ingest_cross_batch_contract(spark):
    """cdc_ingest_delta (q_stream_cdc_ingest's batch core): (a) a
    SHIFTED duplicate of a stored doc is dropped (every realigned chunk
    matches — the property fixed-shingle ingest misses); (b) a doc that
    is mostly old but adds one new tail paragraph is ADMITTED with the
    novel count of its new chunks only; (c) CROSS-BATCH — batch 2's
    duplicate of a batch-1 acceptance is dropped because batch 1's
    novel hashes were appended; (d) batch-split invariance — two
    batches admit exactly what one combined batch admits."""
    from kafka_streams_clojure_spark.operators.dedup import (
        cdc_chunk_table,
        cdc_ingest_delta,
    )

    base = " ".join(f"tok{i * 7 % 97}word{i * 13 % 89}" for i in range(80))
    fresh = " ".join(f"new{i * 17 % 71}item{i * 19 % 61}" for i in range(80))
    tail = " appended entirely novel paragraph about something unseen " * 3

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, source string, text string")

    hist = mk([(0, "h", base)])
    store0 = cdc_chunk_table(hist).select("chunk_hash").distinct()

    batch1 = mk(
        [
            (10, "a", "xyz " + base),   # shifted duplicate of stored doc
            (11, "a", fresh),           # genuinely new
            (12, "a", base + tail),     # old body + novel tail
        ]
    )
    acc1, new1 = cdc_ingest_delta(batch1, store0)
    got1 = {r["doc_id"]: r for r in acc1.collect()}
    # the shifted dup may leak at most its first (misaligned) window
    # chunk as "novel"; everything after realigns. Admission threshold
    # is >= 1 novel chunk, so assert the DOMINANT behavior instead:
    # its novel count is tiny while the new doc's is nearly all chunks
    if 10 in got1:
        assert got1[10]["n_novel"] <= 2 < got1[10]["n_chunks"]
    assert 11 in got1 and got1[11]["n_novel"] == got1[11]["n_chunks"]
    assert 12 in got1 and 1 <= got1[12]["n_novel"] < got1[12]["n_chunks"]

    # batch 2: re-crawl of batch 1's acceptance (exact) — all chunks
    # now in the store via new1, so zero novel chunks -> dropped
    store1 = store0.unionByName(new1).distinct()
    batch2 = mk([(20, "b", fresh), (21, "b", "abc " + fresh)])
    acc2, new2 = cdc_ingest_delta(batch2, store1)
    got2 = {r["doc_id"]: r for r in acc2.collect()}
    assert 20 not in got2
    if 21 in got2:  # shifted re-crawl: at most the misaligned head chunk
        assert got2[21]["n_novel"] <= 2

    # batch-split invariance: one combined batch admits the same docs
    # with the same novel counts as the two-batch run
    both = mk(
        [
            (10, "a", "xyz " + base),
            (11, "a", fresh),
            (12, "a", base + tail),
            (20, "b", fresh),
            (21, "b", "abc " + fresh),
        ]
    )
    acc_all, _ = cdc_ingest_delta(both, store0)
    combined = {
        r["doc_id"]: (r["n_chunks"], r["n_novel"]) for r in acc_all.collect()
    }
    split = {
        r["doc_id"]: (r["n_chunks"], r["n_novel"])
        for r in list(acc1.collect()) + list(acc2.collect())
    }
    assert combined == split
