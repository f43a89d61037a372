"""Multi-batch streaming: state must accumulate correctly ACROSS
micro-batches (the single-AvailableNow-batch oracle keys can't show
this). The fixture is split into several files and fed one file per
trigger, so the engine processes N real micro-batches."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_streams_clojure_spark.queries._util import dsum, load_table
from kafka_streams_clojure_spark.streaming.stateful import running_counter


@pytest.fixture(scope="module")
def split_events_dir(spark, sf_dir):
    """events split into 4 parquet files (by event_id ranges so every
    batch has data)."""
    d = tempfile.mkdtemp(prefix="kscs_multibatch_")
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    step = n // 4 + 1
    for i in range(4):
        (
            ev.filter(
                (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(d, f"part_{i}"))
        )
    return d


def _stream_split(spark, split_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(split_dir, "part_*"))
    )


def test_stateful_counter_across_batches(spark, sf_dir, split_events_dir):
    """running_counter over 4 micro-batches: the LAST emission per key
    must equal the batch aggregate over all data — state survived and
    accumulated across batches — and the fold runs as Spark's native
    stateful aggregate, not pandas grouped state."""
    batch_ev = load_table(spark, sf_dir, "events")
    stream = _stream_split(spark, split_events_dir, batch_ev.schema)

    counted = running_counter(stream, key_col="user_id", value_col="value")
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = counted.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
        q.awaitTermination(30)

    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    assert "StateStoreSave" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan
    # last emission per key (keys can be emitted in several batches;
    # the final n is the max since counts only grow)
    emitted = spark.table(name).groupBy("key").agg(F.max("n").alias("n"))
    expected = batch_ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("n_exp")
    )
    joined = emitted.join(expected, "key")
    assert joined.count() == expected.count()
    bad = joined.filter(F.col("n") != F.col("n_exp")).count()
    assert bad == 0, "per-key streamed counts diverge from batch counts"


def test_windowed_agg_across_batches(spark, sf_dir, split_events_dir):
    """Watermarked tumbling windows fed 4 batches end at the same final
    table as the batch query (update mode: take the last emission per
    window/key)."""
    batch_ev = load_table(spark, sf_dir, "events")
    stream = _stream_split(spark, split_events_dir, batch_ev.schema)
    agg = (
        stream.withWatermark("ts", "40 days")  # nothing dropped: files split by id, not time
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    final = (
        spark.table(name)
        .groupBy("ws", "event_type")
        .agg(F.max("n").alias("n"), F.last("total").alias("_ignore"))
        .drop("_ignore")
    )
    expected = (
        batch_ev.groupBy(F.date_trunc("day", "ts").alias("ws"), "event_type")
        .agg(F.count("*").alias("n_exp"))
    )
    joined = final.join(expected, ["ws", "event_type"], "full_outer")
    assert joined.filter(F.col("n").isNull() | F.col("n_exp").isNull()).count() == 0
    assert joined.filter(F.col("n") != F.col("n_exp")).count() == 0


def test_update_mode_store_guards_multibatch(spark, sf_dir, split_events_dir):
    """run_available_now's parquet store is append-implemented for
    update mode, which is only correct for a single micro-batch: a
    multi-file source must raise loudly, not leave stale per-key rows
    (round-3 advisor item)."""
    from kafka_streams_clojure_spark import streaming

    batch_ev = load_table(spark, sf_dir, "events")
    stream = _stream_split(spark, split_events_dir, batch_ev.schema)
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    with pytest.raises(Exception, match="micro-batch"):
        streaming.run_available_now(agg, output_mode="update")


def test_clear_stores_removes_store_dirs(spark, sf_dir):
    """clear_stores deletes accumulated run_available_now stores."""
    import os

    from kafka_streams_clojure_spark import streaming
    from kafka_streams_clojure_spark.streaming import _STORE_DIRS, stream_table

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    out = streaming.run_available_now(agg, output_mode="update")
    assert out.count() > 0
    assert _STORE_DIRS and all(os.path.isdir(d) for d in _STORE_DIRS)
    dirs = list(_STORE_DIRS)
    streaming.clear_stores()
    assert not _STORE_DIRS
    assert all(not os.path.exists(d) for d in dirs)


def test_upsert_store_across_batches(spark, sf_dir, split_events_dir):
    """upsert_keys makes multi-epoch update mode CORRECT: 4 real
    micro-batches of a running per-key count, store compacted to
    latest-row-per-key, final answer equals the batch aggregate."""
    from kafka_streams_clojure_spark import streaming

    batch_ev = load_table(spark, sf_dir, "events")
    stream = _stream_split(spark, split_events_dir, batch_ev.schema)
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    out = streaming.run_available_now(
        agg, output_mode="update", upsert_keys=["user_id"]
    )
    got = {r.user_id: r.n for r in out.collect()}
    exp = {
        r.user_id: r.n
        for r in batch_ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == exp, "compacted upsert store diverges from batch aggregate"


def test_upsert_store_rejects_multirow_epoch(spark, sf_dir):
    """The upsert store's max_by compaction is only well-defined for
    at-most-one row per key per epoch; a non-aggregate update-mode
    query emitting many rows per key in one batch must trip the sink's
    per-epoch uniqueness guard loudly (round-4 advisor item), never
    silently keep an arbitrary row."""
    from kafka_streams_clojure_spark import streaming
    from kafka_streams_clojure_spark.streaming import stream_table

    ev = stream_table(spark, sf_dir, "events").select("user_id", "value")
    with pytest.raises(Exception, match="multiple rows"):
        streaming.run_available_now(
            ev, output_mode="update", upsert_keys=["user_id"]
        )


def test_upsert_keys_rejects_non_update_mode(spark, sf_dir):
    """upsert_keys with append/complete would silently produce a plain
    uncompacted store — must raise instead."""
    from kafka_streams_clojure_spark import streaming
    from kafka_streams_clojure_spark.streaming import stream_table

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    with pytest.raises(ValueError, match="upsert_keys"):
        streaming.run_available_now(
            agg, output_mode="complete", upsert_keys=["user_id"]
        )


def test_stateful_asof_join_across_batches(spark, sf_dir, tmp_path):
    """Clicks arriving in batch 1 must enrich purchases arriving in
    batch 2 — the per-key version state survives micro-batches. File
    arrival is forced (clicks written before the stream starts,
    purchases added after the first drain), so batch order is
    deterministic; the result must equal the batch as-of join."""
    import os
    import uuid

    from kafka_streams_clojure_spark.streaming.stateful import stateful_asof_join

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    tagged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        F.when(F.col("event_type") == "purchase", F.lit("l"))
        .otherwise(F.lit("r"))
        .alias("side"),
        "ts",
        "event_id",
        "value",
    )
    d = str(tmp_path / "asof_src")
    tagged.filter(F.col("side") == "r").coalesce(1).write.parquet(
        os.path.join(d, "part_a")
    )

    stream = (
        spark.readStream.schema(tagged.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "part_*"))
    )
    name = f"asof_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_asof_join(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: clicks only → builds state
        tagged.filter(F.col("side") == "l").coalesce(1).write.parquet(
            os.path.join(d, "part_b")
        )
        q.processAllAvailable()  # batch 2: purchases → join vs state
    finally:
        q.stop()
        q.awaitTermination(30)

    got = {
        r.left_id: (r.key, r.left_value, r.right_value)
        for r in spark.table(name).collect()
    }

    # expected: python reference as-of over the same rows
    clicks = {}
    for r in (
        tagged.filter(F.col("side") == "r")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        clicks.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    for v in clicks.values():
        v.sort()
    expected = {}
    for r in (
        tagged.filter(F.col("side") == "l")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        best = None
        for cts, cid, cval in clicks.get(r.user_id, []):
            if cts <= r.ts:
                best = cval  # sorted → last kept is (max ts, max event_id)
            else:
                break
        expected[r.event_id] = (r.user_id, r.value, best)
    assert got == expected


def test_funnel_state_across_batches(spark, sf_dir, tmp_path):
    """The funnel state machine fed two TIME-ORDERED batches (first
    half of event time, then second half) must land every user on the
    same final stage as the batch chained-min funnel — stage entry
    survives the epoch boundary."""
    import os
    import uuid

    from kafka_streams_clojure_spark.streaming.stateful import funnel_state

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    mid = ev.agg(
        F.expr("timestampadd(SECOND, CAST((max(unix_timestamp(ts)) - "
               "min(unix_timestamp(ts))) / 2 AS BIGINT), min(ts))").alias("m")
    ).first().m
    d = str(tmp_path / "funnel_src")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(os.path.join(d, "p_a"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "p_*"))
    )
    name = f"fn_{uuid.uuid4().hex[:8]}"
    q = (
        funnel_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(os.path.join(d, "p_b"))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    # last emission per key = final stage
    got = {
        r.key: r.stage
        for r in spark.table(name)
        .groupBy("key")
        .agg(F.max("stage").alias("stage"))
        .collect()
    }
    # batch reference: chained per-user mins
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    exp = {r.user_id: 1 for r in s1.collect()}
    exp.update({r.user_id: 2 for r in s2.collect()})
    exp.update({r.user_id: 3 for r in s3.collect()})
    assert got == exp


def test_hopping_window_across_batches(spark, sf_dir, split_events_dir):
    """Hopping (1d/12h) windows fed 4 micro-batches: final per
    (window, type) counts equal the batch double-counted hopping
    aggregate — overlapping window state survives epochs."""
    batch_ev = load_table(spark, sf_dir, "events")
    stream = _stream_split(spark, split_events_dir, batch_ev.schema)
    agg = (
        stream.withWatermark("ts", "40 days")
        .groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    name = f"hop_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    final = spark.table(name).groupBy("ws", "event_type").agg(F.max("n").alias("n"))
    # batch reference: each event belongs to the two windows starting at
    # floor(epoch/12h)*12h and that minus 12h
    sec = F.unix_timestamp("ts")
    base = (F.floor(sec / 43200) * 43200).cast("long")
    exp = (
        batch_ev.select(
            "event_type",
            F.explode(
                F.array(
                    F.timestamp_seconds(base),
                    F.timestamp_seconds(base - 43200),
                )
            ).alias("ws"),
        )
        .groupBy("ws", "event_type")
        .agg(F.count("*").alias("n_exp"))
    )
    j = final.join(exp, ["ws", "event_type"], "full_outer")
    assert j.filter(F.col("n").isNull() | F.col("n_exp").isNull()).count() == 0
    assert j.filter(F.col("n") != F.col("n_exp")).count() == 0


def test_scd2_state_across_batches(spark, sf_dir, tmp_path):
    """The SCD2 state machine fed two TIME-ORDERED batches must emit
    exactly the closed intervals of the batch run-collapse — including
    any interval whose open run straddles the epoch boundary (opened in
    batch A, closed by a state change arriving in batch B)."""
    import os
    import uuid

    from kafka_streams_clojure_spark.streaming.stateful import scd2_state

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    mid = ev.agg(
        F.expr("timestampadd(SECOND, CAST((max(unix_timestamp(ts)) - "
               "min(unix_timestamp(ts))) / 2 AS BIGINT), min(ts))").alias("m")
    ).first().m
    d = str(tmp_path / "scd2_src")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(os.path.join(d, "p_a"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "p_*"))
    )
    name = f"scd2_{uuid.uuid4().hex[:8]}"
    q = (
        scd2_state(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(os.path.join(d, "p_b"))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = {
        (r.key, r.state, r.valid_from_us, r.valid_to_us, r.n_events)
        for r in spark.table(name).collect()
    }

    # batch reference: run-collapse closed intervals (q_ktable_history
    # minus the open rows), in epoch micros
    from pyspark.sql import Window as W

    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev", F.lag("event_type").over(wo))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev").isNull()
                | ~F.col("event_type").eqNullSafe(F.col("prev")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("is_new").over(wo.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    hist = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wl = W.partitionBy("user_id").orderBy("run_id")
    exp_df = hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros(F.lead("valid_from").over(wl)).alias("valid_to_us"),
        "n_events",
    ).filter(F.col("valid_to_us").isNotNull())
    exp = {
        (r.user_id, r.state, r.valid_from_us, r.valid_to_us, r.n_events)
        for r in exp_df.collect()
    }
    assert got == exp
    # and the straddling case actually occurred: some interval opened
    # at-or-before the split and closed after it
    mid_us = int(mid.timestamp() * 1_000_000)
    assert any(f <= mid_us < t for (_, _, f, t, _) in got)


def test_chained_windows_across_batches(spark, sf_dir, tmp_path):
    """The hourly→daily two-stateful cascade fed two TIME-ORDERED
    batches must (a) emit incrementally — some day rows finalize
    after batch 1 — and (b) end with exactly the watermark-gated set
    the single-pass oracle predicts (append mode emits each window
    once; nothing is re-emitted or lost across the epoch boundary)."""
    import os
    import uuid

    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("timestampadd(SECOND, CAST((max(unix_timestamp(ts)) - "
               "min(unix_timestamp(ts))) / 2 AS BIGINT), min(ts))").alias("m")
    ).first().m
    d = str(tmp_path / "chain_src")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(os.path.join(d, "p_a"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "p_*"))
    )
    h = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    agg = (
        h.groupBy(F.window(F.window_time("w"), "1 day").alias("d"), "event_type")
        .agg(F.sum("n").cast("bigint").alias("n_events"))
        .select(F.col("d.start").alias("day"), "event_type", "n_events")
    )
    name = f"chain_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        after_b1 = spark.table(name).count()
        ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(os.path.join(d, "p_b"))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    assert after_b1 > 0, "no day finalized after the first batch"
    got = {
        (r.day, r.event_type): r.n_events for r in spark.table(name).collect()
    }
    assert len(got) == spark.table(name).count(), "append re-emitted a window"

    # batch reference: the same two watermark gates over the full data
    wm = ev.agg(
        F.expr("max(ts) - INTERVAL 1 HOUR").alias("w")
    ).first().w
    ref_rows = (
        ev.withColumn("h", F.date_trunc("hour", "ts"))
        .filter(F.col("h") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
        .groupBy(F.date_trunc("day", "h").alias("day"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .filter(F.col("day") + F.expr("INTERVAL 1 DAY") <= F.lit(wm))
        .collect()
    )
    exp = {(r.day, r.event_type): r.n_events for r in ref_rows}
    assert got == exp


def test_dedup_window_suppresses_cross_batch_replay(spark, tmp_path):
    """dropDuplicates state must survive the epoch boundary: a record
    replayed in a LATER batch (at-least-once delivery) may not
    double-count in the downstream window aggregate."""
    import datetime as dt
    import os
    import uuid

    t0 = dt.datetime(2024, 3, 1, 10, 0)
    rows_a = [
        (1, 7, "click", t0),
        (2, 8, "click", t0 + dt.timedelta(minutes=5)),
    ]
    # batch B: replays user 7's (user, type, hour) cell with a new
    # event id + adds a genuinely new user, then a much later event
    # whose watermark finalizes the first hour
    rows_b = [
        (3, 7, "click", t0 + dt.timedelta(minutes=10)),
        (4, 9, "click", t0 + dt.timedelta(minutes=20)),
        (5, 1, "click", t0 + dt.timedelta(hours=6)),
    ]
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    d = str(tmp_path / "ddw_src")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(
        os.path.join(d, "p_a")
    )
    stream = (
        spark.readStream.schema(
            spark.createDataFrame(rows_a, schema).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(d, "p_*"))
    )
    dd = (
        stream.withWatermark("ts", "1 hour")
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .dropDuplicates(["user_id", "event_type", "hour"])
    )
    agg = (
        dd.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("active_users"))
        .select(F.col("w.start").alias("hour"), "active_users")
    )
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(
            os.path.join(d, "p_b")
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = {r.hour: r.active_users for r in spark.table(name).collect()}
    first_hour = t0.replace(minute=0)
    # users 7 (counted ONCE despite the batch-B replay), 8, 9 → 3
    assert got.get(first_hour) == 3, got
