"""Custom per-key stateful operators (Stores-API parity).

The reference's declared goal: "stateful transducers ... over Kafka
Streams state stores" for joins/windowed aggregates/custom state
(reference README.md:66-68); each transducer instance owns per-task
state (api.clj:41-45). Spark mapping, by the shape of the fold:

- algebraic folds (count/sum over a key, :func:`running_counter`)
  compile to Spark's native streaming aggregate — map-side partial
  aggregation and a JVM state store, no Python worker;
- state machines (as-of join, funnel, punctuate, scd2, the capped
  sessionizer) use ``applyInPandasWithState`` — per-key state managed
  by the engine's state store, Arrow-batched user logic,
  watermark-driven timeouts instead of the stubbed ``punctuate``
  (api.clj:26).
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# pyspark's applyInPandasWithState serializer pads every output batch
# with all-None frames and then calls pd.concat, which makes pandas 2.x
# print this deprecation on every batch of the state machines below.
# The call is in pyspark, not here. Only this message, from that module,
# is silenced; _StateFunc carries the filter into the Python workers.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries",
    category=FutureWarning,
    module=r"pyspark\.sql\.pandas\.serializers",
)


class _StateFunc:
    """An ``applyInPandasWithState`` function that pickles by reference
    to this module, so a Python worker imports the module — and runs the
    warning filter above — when it unpickles the function. The nested
    ``update`` closures alone are pickled by value and import nothing."""

    def __init__(self, update) -> None:
        self.update = update

    def __call__(self, key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState):
        return self.update(key, pdfs, state)


def running_counter(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running (count, sum) maintained in engine state across
    micro-batches; emits the updated totals for every key seen in the
    batch — the KS `aggregate`-with-store analog.

    A count/sum fold is algebraic, so it runs as Spark's own
    incremental aggregate in update mode: a map-side partial aggregate
    per batch, merged into a JVM state store of two scalars per key —
    constant memory per key regardless of stream length, and no Python
    worker on the path.

    Contract (output ``key <type of key_col>, n long, total double``):

    - a null key forms its own group;
    - ``n`` counts every row, including rows whose value is null or NaN;
    - ``total`` sums the value cast to double, skipping null and NaN,
      and is ``0.0`` when a key has no other values.

    The double ``total`` depends on partial-aggregate order; exact
    comparisons re-derive it with a decimal sum (``q_stream_stateful_counter``).
    A checkpoint written by the former ``applyInPandasWithState`` counter
    cannot be resumed: the state schema changed.
    """
    v = F.col(value_col).cast("double")
    return events.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.nanvl(v, F.lit(None).cast("double"))), F.lit(0.0)
        ).alias("total"),
    )


def stateful_asof_join(
    tagged: DataFrame,
    key_col: str = "user_id",
    side_col: str = "side",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """KStream⋈KTable as-of join ON THE STREAMING ENGINE with an
    explicit per-key state store (the Stores-API join the reference
    targets, README.md:66-68): the right side ('r' rows of the tagged
    union) is accumulated per key as the versioned table; every left
    row ('l') is enriched with the LATEST right value at-or-before its
    timestamp. Spark has no native stream-stream as-of join — this is
    the applyInPandasWithState expression of it.

    Determinism contract (mirrors the batch ``q_join_asof``): right
    rows are deduped per (key, ts) keeping the max ``id_col``'s value;
    exact-timestamp matches join (>=). Left rows match only right rows
    from their own or EARLIER micro-batches — with a single
    AvailableNow batch the result equals the batch as-of join exactly
    (the oracle), and in continuous operation it is the KS
    table-lookup semantics (the table is whatever has arrived).

    State per key is the (ts, value) version list — the KTable
    changelog. A production deployment bounds it with a staleness
    horizon (drop versions older than watermark − tolerance, the
    ``q_join_asof_tolerance`` contract); the fixture's per-key version
    counts are small so the trim is left out of the demo path.

    Output: ``(key, left_id, left_value, right_value)`` with
    ``right_value`` NULL when no version precedes the left row.
    """
    import numpy as np

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            r_ts, r_val = state.get
            r_ts, r_val = list(r_ts), list(r_val)
        else:
            r_ts, r_val = [], []
        lefts = []
        for pdf in pdfs:
            r = pdf[pdf[side_col] == "r"]
            if len(r):
                r = r.sort_values([ts_col, id_col]).drop_duplicates(
                    subset=[ts_col], keep="last"
                )
                r_ts.extend(int(t.value) for t in r[ts_col])
                r_val.extend(float(v) for v in r[value_col])
            l = pdf[pdf[side_col] == "l"]
            if len(l):
                lefts.append(l[[id_col, ts_col, value_col]])
        # versions sorted once per batch; duplicates across batches
        # resolved latest-batch-wins (dict keyed by ts keeps last)
        merged = dict(zip(r_ts, r_val))
        r_ts = sorted(merged)
        r_val = [merged[t] for t in r_ts]
        state.update((r_ts, r_val))
        if not lefts:
            return
        out = pd.concat(lefts)
        ts_ns = out[ts_col].astype("int64").to_numpy()
        pos = np.searchsorted(np.asarray(r_ts, dtype="int64"), ts_ns, side="right") - 1
        rv = [r_val[p] if p >= 0 else None for p in pos]
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(out),
                "left_id": out[id_col].to_numpy(),
                "left_value": out[value_col].to_numpy(),
                "right_value": rv,
            }
        )

    key_type = dict(tagged.dtypes)[key_col]
    # null key/ts rows are dropped up front (the as-of null-key rule):
    # a null key would become its own state group that matches nothing,
    # and pd.NaT.value is a sentinel integer that would silently join
    return (
        tagged.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(key_col, side_col, ts_col, id_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            _StateFunc(update),
            outputStructType=(
                f"key {key_type}, left_id long, left_value double, right_value double"
            ),
            stateStructType="r_ts array<long>, r_val array<double>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_state(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Strict-order funnel as a per-key STATE MACHINE on the streaming
    engine: each user's state is the (t1, t2, t3) stage-entry
    timestamps; events replay in (ts, id) order within each batch and
    advance the machine only forward (stage k+1 requires a strictly
    later event than stage k's entry) — the per-user online form of
    the batch ``q_events_funnel`` chained-min aggregation.

    One AvailableNow batch processes each key's full history sorted,
    so the final stage equals the batch funnel exactly (the oracle).
    In continuous operation, events arriving across batches advance
    the same state; an out-of-order straggler that would have entered
    an EARLIER stage is ignored (the machine never rewinds) — the
    standard online-funnel tradeoff, bounded by the source's
    disorder, and the reason the batch key remains the reconciliation
    path.

    Emits ``(key, stage)`` per key seen (stage 1..3), update-mode
    semantics (later batches re-emit the advanced stage). State is
    three scalars per key — constant memory per key at any scale.
    """
    s1, s2, s3 = stages

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        t1, t2, t3 = state.get if state.exists else (0, 0, 0)
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            ev = pd.concat(frames).sort_values([ts_col, id_col])
            for typ, ts in zip(ev[type_col], ev[ts_col]):
                t = int(ts.value)
                if typ == s1 and t1 == 0:
                    t1 = t
                elif typ == s2 and t1 != 0 and t > t1 and t2 == 0:
                    t2 = t
                elif typ == s3 and t2 != 0 and t > t2 and t3 == 0:
                    t3 = t
        state.update((t1, t2, t3))
        if t1 == 0:
            return
        stage = 3 if t3 else (2 if t2 else 1)
        yield pd.DataFrame({"key": [key[0]], "stage": [stage]})

    key_type = dict(events.dtypes)[key_col]
    # null key/ts guard (as-of rule): pd.NaT.value is a sentinel int
    # that would sort before every real event and corrupt the machine
    return (
        events.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(key_col, type_col, ts_col, id_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            _StateFunc(update),
            outputStructType=f"key {key_type}, stage int",
            stateStructType="t1 long, t2 long, t3 long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def punctuate_flush(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    interval: str = "1 hour",
    time_mode: str = "stream",
) -> DataFrame:
    """Kafka-Streams ``punctuate`` parity (reference api.clj:26 — a
    no-op stub there; KS semantics: a per-key timer callback fired
    every ``interval`` of STREAM_TIME or WALL_CLOCK_TIME): buffer a
    per-key (count, sum) silently and emit ONLY when the timer fires,
    then clear the buffer (periodic flush — the emit-on-punctuate
    pattern).

    - ``time_mode='stream'``: event-time timeouts. The timer is armed
      at ``max(watermark, max event ts seen) + interval`` and fires
      when the WATERMARK passes it — deterministic, replayable, and
      what KS calls STREAM_TIME. Requires ``withWatermark`` upstream.
    - ``time_mode='wall'``: processing-time timeouts
      (WALL_CLOCK_TIME) — fires ``interval`` of real time after the
      key's last batch. The right mode for latency-bound flushes in
      production. CAVEAT: while processing-time timers are pending the
      engine schedules timer-check batches on its own, so
      ``processAllAvailable()``-style draining does NOT settle — run
      the query with a real trigger and read the sink as it fills
      (``tests/test_punctuate.py`` polls the memory sink).

    Output rows: ``(key, n, total, fired_at_ms)`` — ``fired_at_ms`` is
    the armed timer timestamp (stream mode) or the firing batch's
    processing time (wall mode). Emission happens only in the timeout
    branch, so a batch with data for a key yields NOTHING for that key
    until its timer expires in a later batch (or a no-data watermark
    batch — the engine schedules one whenever the watermark advances,
    which is what makes AvailableNow fixtures drain their timers).

    State per key is three scalars — constant memory per key at any
    scale, same contract as :func:`running_counter`.
    """
    if time_mode not in ("stream", "wall"):
        raise ValueError(f"time_mode must be 'stream' or 'wall', got {time_mode!r}")

    import re

    m = re.fullmatch(r"(\d+)\s*(ms|milliseconds?|s|seconds?|m|minutes?|h|hours?|d|days?)", interval.strip())
    if not m:
        raise ValueError(f"unparseable interval {interval!r}")
    mult = {"ms": 1, "s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}[
        m.group(2)[:2] if m.group(2).startswith("ms") else m.group(2)[0]
    ]
    interval_ms = int(m.group(1)) * mult
    stream_mode = time_mode == "stream"

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, total, next_fire = state.get
            fired_at = next_fire if stream_mode else state.getCurrentProcessingTimeMs()
            state.remove()  # flush semantics: emit and forget
            yield pd.DataFrame(
                {"key": [key[0]], "n": [n], "total": [total], "fired_at_ms": [fired_at]}
            )
            return
        if state.exists:
            n, total, next_fire = state.get
        else:
            n, total, next_fire = 0, 0.0, 0
        max_ts_ms = 0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            if stream_mode and len(pdf):
                max_ts_ms = max(max_ts_ms, int(pdf[ts_col].max().value // 1_000_000))
        if stream_mode:
            wm = state.getCurrentWatermarkMs()
            if next_fire == 0:  # first data for this key: arm the timer
                next_fire = max(wm, max_ts_ms) + interval_ms
            # re-register every batch (state updates drop the pending
            # timeout); clamp into the valid (> watermark) range if the
            # timer is already due — it fires on the next batch.
            state.update((n, total, next_fire))
            state.setTimeoutTimestamp(max(next_fire, wm + 1))
        else:
            state.update((n, total, 0))
            state.setTimeoutDuration(interval_ms)
        return

    key_type = dict(events.dtypes)[key_col]
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if stream_mode
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    cols = [F.col(key_col), F.col(value_col).cast("double").alias(value_col)]
    if stream_mode:
        cols.append(F.col(ts_col))
    return (
        events.select(*cols)
        .groupBy(key_col)
        .applyInPandasWithState(
            _StateFunc(update),
            outputStructType=f"key {key_type}, n long, total double, fired_at_ms long",
            stateStructType="n long, total double, next_fire long",
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def scd2_state(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming CDC → SCD2: the online form of the batch
    ``q_ktable_history`` run-collapse. Per-key state is the OPEN
    validity interval (current state, its start, its event count);
    events replay in (ts, id) order and every state CHANGE closes the
    open interval — emitting ``(key, state, valid_from, valid_to,
    n_events)`` — and opens the next one. Same-state events (null-safe
    compare, the CLAUDE.md change-detection rule) only bump the run's
    event count.

    Emission is append-mode (closed intervals are immutable facts —
    exactly a warehouse's SCD2 insert stream); the open interval per
    key lives ONLY in engine state, which is the interactive-query
    surface, and the batch key remains the reconciliation path that
    also shows open rows (valid_to IS NULL). Interval bounds are
    emitted as epoch MICROSECONDS (exact integers on both engines —
    no timestamp round-trip ambiguity in the oracle compare).

    State is three scalars per key — constant memory per key; closed
    runs stream out incrementally, so a key with a year of history
    never re-materializes it."""

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cur, vf, n = state.get
        else:
            cur, vf, n = None, 0, 0
        o_state: list = []
        o_from: list = []
        o_to: list = []
        o_n: list = []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            ev = pd.concat(frames).sort_values([ts_col, id_col])
            for typ, ts in zip(ev[type_col], ev[ts_col]):
                t = int(ts.value)
                typ = None if pd.isna(typ) else typ
                if n == 0:
                    cur, vf, n = typ, t, 1
                elif (typ is None and cur is None) or typ == cur:
                    n += 1
                else:
                    o_state.append(cur)
                    o_from.append(vf)
                    o_to.append(t)
                    o_n.append(n)
                    cur, vf, n = typ, t, 1
        state.update((cur, vf, n))
        if o_state:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(o_state),
                    "state": o_state,
                    "valid_from_us": [v // 1000 for v in o_from],
                    "valid_to_us": [v // 1000 for v in o_to],
                    "n_events": o_n,
                }
            )

    key_type = dict(events.dtypes)[key_col]
    # null key/ts guard (the as-of rule): NaT sentinels would corrupt
    # the replay order; null event_type is handled null-safely above
    return (
        events.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(key_col, type_col, ts_col, id_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            _StateFunc(update),
            outputStructType=(
                f"key {key_type}, state string, valid_from_us long, "
                "valid_to_us long, n_events long"
            ),
            stateStructType="cur string, vf long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def capped_sessionizer(
    events: DataFrame,
    gap_us: int,
    cap_us: int,
    key_col: str = "user_id",
    ts_col: str = "tu",
    id_col: str = "event_id",
) -> DataFrame:
    """STREAMING capped sessionization (inactivity gap + max duration —
    the sequential GA4/Amplitude semantics of the batch
    `q_agg_session_capped` key) as per-key engine state: the state is
    ONE open session (index, start, last-seen, count); each batch
    continues the linear scan over its (ts, id)-sorted rows and emits
    every session it CLOSES — the open session rides the state store
    to the next batch, so session boundaries are identical under any
    time-ordered batch split. Constant state per key regardless of
    stream length. The per-batch scan is the vectorized per-session
    kernel (operators/sessionize.capped_scan), shared with the batch
    twin so the two paths cannot drift."""
    from kafka_streams_clojure_spark.operators.sessionize import capped_scan

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = tuple(int(v) for v in state.get)
        else:
            st = (0, -1, -1, 0)
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values([ts_col, id_col])
        uid = key[0]
        tu = rows[ts_col].to_numpy(dtype="int64")
        closed, st = capped_scan(tu, gap_us, cap_us, st)
        state.update(tuple(st))
        yield pd.DataFrame(
            [(uid, i, s, e, c) for (i, s, e, c) in closed],
            columns=["user_id", "sess_idx", "start_us", "end_us", "n_events"],
        )

    key_type = dict(events.dtypes)[key_col]
    return events.groupBy(key_col).applyInPandasWithState(
        _StateFunc(update),
        outputStructType=(
            f"user_id {key_type}, sess_idx long, start_us long, "
            "end_us long, n_events long"
        ),
        stateStructType="idx long, start long, prev long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
