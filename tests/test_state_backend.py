"""RocksDB state-store backend for the stateful streaming operators
(100 TB posture): the default HDFSBackedStateStoreProvider keeps every
key's state on the executor HEAP — at real streaming-state sizes
(billions of dedup keys, wide session maps) that's an OOM, while the
RocksDB provider (in Spark core since 3.2) spills state to local SSD
with incremental checkpointing. The engine's operators must be
provider-agnostic: same results, no code changes, flip one conf.

These tests run the engine's own stateful paths — the running
counter (Spark's native streaming aggregate), the funnel state machine
(``applyInPandasWithState``) and the streaming
dropDuplicatesWithinWatermark dedup — under
``RocksDBStateStoreProvider`` and pin (a) result equality with the
batch oracle, and (b) that RocksDB actually engaged (.sst/.zip
snapshot files under the pinned checkpoint dir — not just a conf that
silently fell back)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_clojure_spark.queries._util import dsum, load_table

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_CK_CONF = "spark.sql.streaming.checkpointLocation"


@pytest.fixture()
def rocksdb_ck(spark):
    """Flip the provider AND pin a checkpoint base dir for the duration
    of one test (both confs are read at query START). The pinned dir is
    what lets the test prove engagement: temp checkpoints are deleted
    on query stop, a based one survives for inspection."""
    from kafka_streams_clojure_spark.streaming import scratch_dir

    ck = scratch_dir("kscs_rocksck_")
    prev = {c: spark.conf.get(c, None) for c in (_PROVIDER_CONF, _CK_CONF)}
    spark.conf.set(_PROVIDER_CONF, ROCKSDB)
    spark.conf.set(_CK_CONF, ck)
    try:
        yield ck
    finally:
        for c, v in prev.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def _assert_rocksdb_engaged(ck: str) -> None:
    """At least one RocksDB artifact (.sst data file or .zip snapshot)
    must exist under the checkpoint's state dir — proves the provider
    ran rather than silently falling back to the heap provider (whose
    state files are named `<version>.delta`/`.snapshot`)."""
    hits, deltas = [], []
    for root, _dirs, files in os.walk(ck):
        if f"{os.sep}state" not in root:
            continue
        hits += [f for f in files if f.endswith(".sst") or f.endswith(".zip")]
        deltas += [f for f in files if f.endswith(".delta")]
    assert hits, (
        "no RocksDB sst/zip files under the checkpoint state dir "
        f"(heap-provider .delta files present: {bool(deltas)})"
    )


def test_stateful_counter_matches_batch_under_rocksdb(spark, sf_dir, rocksdb_ck):
    """The Stores-API counter (native streaming aggregate) under
    RocksDB: per-key n and decimal-exact totals equal the batch
    aggregate."""
    import __spark_entry__ as entrymod

    got = {
        r.key: (r.n, r.total)
        for r in entrymod.queries()["q_stream_stateful_counter"](
            spark, sf_dir
        ).collect()
    }
    exact = {
        r.key: (r.n, r.total)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("n"), dsum("value").alias("total"))
        .collect()
    }
    assert got == exact and len(got) > 0
    _assert_rocksdb_engaged(rocksdb_ck)


def test_pandas_state_funnel_matches_oracle_under_rocksdb(
    spark, duck, sf_dir, rocksdb_ck
):
    """The applyInPandasWithState path under RocksDB: the funnel state
    machine's per-user stages equal the key's batch (DuckDB) answer."""
    import __spark_entry__ as entrymod
    from tests.oracle_harness import compare

    name = "q_stream_funnel"
    compare(
        entrymod.queries()[name](spark, sf_dir),
        duck.sql(entrymod.oracle_sql()[name]),
        name,
    )
    _assert_rocksdb_engaged(rocksdb_ck)


def test_stream_dedup_matches_batch_under_rocksdb(spark, sf_dir, rocksdb_ck):
    """dropDuplicatesWithinWatermark state under RocksDB: survivors
    equal the batch DISTINCT set, with no key emitted twice."""
    import __spark_entry__ as entrymod

    got = [
        (r.user_id, r.event_type)
        for r in entrymod.queries()["q_stream_dedup"](spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(set(got)), "dedup emitted a duplicate key"
    batch = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert set(got) == batch and len(batch) > 0
    _assert_rocksdb_engaged(rocksdb_ck)


def test_stateful_recovery_under_rocksdb(spark, sf_dir, rocksdb_ck):
    """Kill a STATEFUL streaming aggregation mid-stream and restart it
    from the same checkpoint under the RocksDB provider: the restarted
    query must RESTORE its state from the RocksDB snapshot/changelog
    (not recount from zero, not double-count the replayed batch) — the
    recovery path is where this provider differs most from the heap
    one. Final per-user counts must equal the batch aggregate."""
    import os
    import tempfile
    import time

    from kafka_streams_clojure_spark.queries._util import load_table

    src = tempfile.mkdtemp(prefix="kscs_rocks_src_")
    ckpt = os.path.join(rocksdb_ck, "recovery_q")
    out = tempfile.mkdtemp(prefix="kscs_rocks_out_")
    ev = load_table(spark, sf_dir, "events")
    n_files = 6
    n = ev.count()
    step = n // n_files + 1
    for i in range(n_files):
        (
            ev.filter(
                (F.col("event_id") >= i * step)
                & (F.col("event_id") < (i + 1) * step)
            )
            .select("event_id", "user_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src, f"part_{i}"))
        )

    def start():
        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "part_*"))
        )
        agg = stream.groupBy("user_id").count()

        def sink(bdf, epoch_id):
            # complete mode: each epoch carries the FULL state — the
            # store is an overwrite materialized view
            bdf.write.mode("overwrite").parquet(out)

        return (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.3)
    assert len(q.recentProgress) >= 1, "no batch completed before kill"
    q.stop()
    q.awaitTermination(30)

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination(30)

    got = {
        r.user_id: r["count"] for r in spark.read.parquet(out).collect()
    }
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == exact and len(got) > 0
    _assert_rocksdb_engaged(rocksdb_ck)
