"""Per-record error tolerance (SURVEY §2.9).

The reference wraps every record in try/catch: a failing record is
printed and DROPPED, the stream survives (reference api.clj:21-24).
The engine mirrors that contract at micro-batch scale: user Python
logic runs inside an Arrow-batched wrapper that isolates failures to
the offending records instead of failing the query — never
per-record commits, never query-killing poison pills.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame


def tolerant_map_in_pandas(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    on_error: str = "drop",
) -> DataFrame:
    """Apply ``fn`` batch-wise; if a batch raises, fall back to row-wise
    application and drop (or null out) only the failing rows — the
    reference's swallow-and-continue contract without giving up Arrow
    vectorization on the happy path.

    on_error: 'drop' (reference behavior) | 'raise' (fail fast).
    """
    if on_error not in ("drop", "raise"):
        raise ValueError(f"on_error must be 'drop'|'raise', got {on_error!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                yield fn(pdf)
            except Exception:
                if on_error == "raise":
                    raise
                good: list[pd.DataFrame] = []
                for i in range(len(pdf)):
                    row = pdf.iloc[[i]]
                    try:
                        good.append(fn(row))
                    except Exception:
                        continue  # drop the poison record, stream survives
                if good:
                    yield pd.concat(good, ignore_index=True)

    return df.mapInPandas(run, schema=schema)


def dlq_map_in_pandas(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    id_col: str,
) -> DataFrame:
    """The DEAD-LETTER twin of :func:`tolerant_map_in_pandas`: one
    Arrow-batched pass that routes every record to exactly one of two
    channels — successful transforms carry ``__error = NULL``, poison
    records surface as ``(id_col, __error = str(exception))`` rows with
    the other output columns nulled. The caller branches on
    ``__error IS NULL`` to get the main stream and the DLQ from ONE
    pass (the standard evolution of swallow-and-drop once someone has
    to triage what was dropped; reference api.clj:21-24 prints the
    error — this keeps it as data instead).

    ``fn``'s output must include ``id_col`` so failures and successes
    share an identity column. Failure rows are produced only on the
    row-isolated fallback path — the happy path stays fully
    vectorized."""
    names = [c.split()[0].strip() for c in schema.split(",")]
    if id_col not in names:
        raise ValueError(f"schema must include id_col {id_col!r}")
    others = [c for c in names if c != id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                out = fn(pdf)
                out = out.copy()
                out["__error"] = None
                yield out
            except Exception:
                good: list[pd.DataFrame] = []
                bad_ids: list[Any] = []
                bad_errs: list[str] = []
                for i in range(len(pdf)):
                    row = pdf.iloc[[i]]
                    try:
                        good.append(fn(row))
                    except Exception as e:  # noqa: BLE001 — the contract
                        bad_ids.append(row[id_col].iloc[0])
                        bad_errs.append(str(e))
                frames: list[pd.DataFrame] = []
                if good:
                    g = pd.concat(good, ignore_index=True)
                    g["__error"] = None
                    frames.append(g)
                if bad_ids:
                    if good:
                        # null rows in the good frame's dtypes: an
                        # all-None object column in the concat would
                        # drive its dtype resolution
                        b = g.iloc[:0].reindex(range(len(bad_ids)))
                        b[id_col] = bad_ids
                    else:
                        b = pd.DataFrame({id_col: bad_ids})
                        for c in others:
                            b[c] = None
                    b["__error"] = bad_errs
                    frames.append(b)
                if frames:
                    yield pd.concat(frames, ignore_index=True)

    return df.mapInPandas(run, schema=f"{schema}, __error string")
