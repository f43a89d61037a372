"""Winnowing document fingerprints (rolling-hash chunk signatures).

The classic local-fingerprinting scheme (Schleimer/Wilkerson/Aiken,
SIGMOD'03): hash every k-char window (Rabin-Karp rolling polynomial
hash), then keep the minimum hash in each w-window of consecutive
hashes — a position-robust signature set whose overlap detects partial
/ chunk-level duplication (finer than doc-level MinHash, cheaper than
diffing).

Runs as an Arrow-batched pandas UDF (numpy rolling hash per batch):
per-char explode in SQL would blow up 1000×, and the hash recurrence
is inherently sequential per document — exactly the "UDF only where
built-ins genuinely can't express it" case (SURVEY §2.10). Output rows
(doc_id, fingerprint) shuffle-join like any other set signature.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_clojure_spark.operators._cache import persist_if_uncached

_BASE = np.uint64(257)


def _window_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Polynomial hashes of every k-byte window, fully vectorized:
    h_i = Σ_j data[i+j]·BASE^(k-1-j) in Z_2^64 (uint64 wraparound is
    the modulus) — a sliding dot product against the power vector."""
    pows = np.empty(k, dtype=np.uint64)
    pows[k - 1] = np.uint64(1)
    with np.errstate(over="ignore"):
        for j in range(k - 2, -1, -1):
            pows[j] = pows[j + 1] * _BASE
    windows = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.uint64)
    return (windows * pows[None, :]).sum(axis=1, dtype=np.uint64)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    w: int = 8,
) -> DataFrame:
    """(id, fingerprint) rows: winnowed rolling-hash signatures.

    Guarantee: any shared substring of length >= k + w - 1 between two
    documents yields at least one shared fingerprint — the basis for
    chunk-level dedup via a plain equi-join on `fingerprint`.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            fps: list[int] = []
            for doc_id, text in zip(pdf["__id"], pdf["__text"]):
                data = np.frombuffer(str(text).encode("utf-8"), dtype=np.uint8)
                if len(data) < k:
                    hs = _window_hashes(
                        np.pad(data, (0, k - len(data))), k
                    )  # short doc: single padded window
                else:
                    hs = _window_hashes(data, k)
                if len(hs) == 0:
                    continue

                def to_i64(v: int) -> int:
                    # wrap uint64 → int64 without numpy casts (np.uint64
                    # of a negative int warns on 1.26 / raises on 2.x)
                    return v - (1 << 64) if v >= (1 << 63) else v

                # winnow: min hash of each w-window, deduplicated
                if len(hs) <= w:
                    sel = {to_i64(int(hs.min()))}
                else:
                    view = np.lib.stride_tricks.sliding_window_view(hs, w)
                    sel = set(view.min(axis=1).astype(np.int64).tolist())
                ids.extend(int(doc_id) for _ in sel)
                fps.extend(int(s) for s in sel)
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    slim = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")).filter(
        # null text would fingerprint the literal string 'None'; null id
        # would NaN-poison the pandas int column — neither is a document
        F.col("__id").isNotNull() & F.col("__text").isNotNull()
    )
    return slim.mapInPandas(run, schema="doc_id long, fingerprint long")


def winnow_shared_chunks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", min_shared: int = 3
) -> DataFrame:
    """Pairs of documents sharing >= min_shared winnowed fingerprints —
    chunk-level near-dup candidates via one equi-join on the signature."""
    fp = persist_if_uncached(winnow_fingerprints(df, id_col, text_col))
    a = fp.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
