"""The workloads. Each drives the engine only through its public
functions (``session.get_spark``, the ``queries()`` registry,
``xform``/``api`` and ``streaming.stateful``) and times those calls
from here.

``run.py`` constructs a workload (which writes its seeded inputs) and
calls, in order:

- ``setup``: one untimed pass at the workload's own scale (part of
  ``setup_s``);
- ``measure``: the timed region, a fixed amount of work sized from
  ``seconds`` (whole rounds of every key, or the fixed backlog plus a
  fixed time at the fixed offered rate);
- ``finish``: untimed wind-down;
- ``verify``: DuckDB oracle diffs of what the timed region executed;
- ``layer_metrics``: per-layer numbers of the traced run.
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time
import types
from contextlib import nullcontext

import numpy as np

import gen
import measure
from trace import Tracer

SQL_KEYS = (
    "q_sql_tpch_q3", "q_sql_tpch_q5", "q_sql_tpch_q6", "q_sql_tpch_q9", "q_sql_tpch_q18",
    "q_agg_multi", "q_join_inner", "q_join_broadcast", "q_topk_per_group",
    "q_ktable_latest",
)
DEDUP_KEYS = (
    "q_llm_exact_dedup", "q_llm_ngram_jaccard", "q_llm_near_dup",
    "q_llm_semdedup", "q_llm_curation",
)
#: Keys without a DuckDB oracle: checked by row count and schema.
ROWS_ONLY_SCHEMA = {
    "q_llm_near_dup": ("id_a", "id_b", "est_jaccard"),
    "q_llm_semdedup": ("vec_id", "cell"),
}


def _oracle_con(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _harness():
    """The repository's exact result diff (the same one the oracle tests
    use): sorted columns, canonical values, exact equality."""
    repo_tests = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    if repo_tests not in sys.path:
        sys.path.append(repo_tests)
    import oracle_harness

    return oracle_harness


class Verifier:
    """Diffs collected engine results against DuckDB oracles and keeps
    the list of mismatches; the time it spends is kept apart so that it
    never counts in ``setup_s`` or the timed region."""

    def __init__(self) -> None:
        from kafka_streams_clojure_spark.queries import oracle_sql

        self.oracles = oracle_sql()
        self.harness = _harness()
        self.failures: list[str] = []
        self.seconds = 0.0

    def check(self, key: str, pdf, data_dir: str, con=None) -> bool:
        t0 = time.perf_counter()
        ok = True
        try:
            if key in self.oracles:
                own = con is None
                con = con or _oracle_con(data_dir)
                try:
                    shim = types.SimpleNamespace(toPandas=lambda: pdf)
                    self.harness.compare(shim, con.sql(self.oracles[key]), key)
                finally:
                    if own:
                        con.close()
            else:
                self._rows_only(key, pdf, data_dir)
        except AssertionError as e:
            self.failures.append(f"{key} @ {data_dir}: {e}")
            ok = False
        self.seconds += time.perf_counter() - t0
        return ok

    @staticmethod
    def _rows_only(key: str, pdf, data_dir: str) -> None:
        want = ROWS_ONLY_SCHEMA[key]
        assert tuple(pdf.columns) == want, f"{key}: columns {tuple(pdf.columns)} != {want}"
        import duckdb

        con = duckdb.connect()
        try:
            if key == "q_llm_near_dup":
                n = con.execute(f"SELECT count(*) FROM '{data_dir}/documents.parquet'").fetchone()[0]
                # identical texts have identical signatures, so every
                # exact-duplicate pair is always found
                exact = con.execute(
                    f"SELECT coalesce(sum(c * (c - 1) / 2), 0) FROM (SELECT count(*) c "
                    f"FROM '{data_dir}/documents.parquet' GROUP BY text)"
                ).fetchone()[0]
                assert exact <= len(pdf) <= n * (n - 1) // 2, f"{key}: {len(pdf)} pairs, {exact} exact"
                assert (pdf["id_a"] < pdf["id_b"]).all(), f"{key}: unordered pair"
            else:
                n, dup = con.execute(
                    f"""SELECT (SELECT count(*) FROM '{data_dir}/embeddings.parquet'),
                    (SELECT count(DISTINCT b.vec_id) FROM '{data_dir}/embeddings.parquet' a
                     JOIN '{data_dir}/embeddings.parquet' b ON a.vec_id < b.vec_id
                     WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95)"""
                ).fetchone()
                # cells only restrict which pairs are compared, so at most
                # the vectors with a lower-id twin anywhere are dropped
                assert n - dup <= len(pdf) <= n, f"{key}: {len(pdf)} survivors of {n}, {dup} twins"
                assert pdf["vec_id"].is_unique, f"{key}: duplicate survivors"
        finally:
            con.close()


def _input_rows(df, table_rows: dict[str, int]) -> int:
    """Rows of the input tables a request reads, from the files its plan
    scans."""
    names = {os.path.basename(p).removesuffix(".parquet") for p in df.inputFiles()}
    return sum(table_rows[n] for n in names if n in table_rows)


class BatchMix:
    """A closed loop with one client over two key sets, in one
    long-lived session that never clears its cache. Each round runs
    every key once, in a seeded order, into the noop sink:

    - the SQL-surface TPC-H shapes and the DataFrame relational keys
      over one fixed table set (none of them persists anything, so every
      round does the same work);
    - the dedup and curation keys over round ``r``'s own seeded row
      subset of ``documents``/``embeddings`` (no persisted intermediate
      of an earlier round can be hit again, while blocks they leave
      behind stay and show in memory).
    """

    keys = SQL_KEYS + DEDUP_KEYS
    #: Latencies cluster by key, and each key runs equally often, so a
    #: percentile that falls between two keys' clusters jumps between
    #: them. With an odd key count the median falls inside the middle
    #: key's samples; at 2 rounds (30 samples) p65 falls inside the
    #: tenth key's and still has 10 samples beyond it.
    TAIL_P = 0.65

    def __init__(self, spark, work: str, seed: int, scale, tracer: Tracer | None, seconds: float):
        from kafka_streams_clojure_spark.queries import queries

        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.tracer = tracer
        self.registry = queries()
        self.rng = np.random.default_rng([seed, 1])
        self.verifier = Verifier()
        self.layers: list[dict] = []
        self.rounds: list[list[tuple[str, float, bool]]] = []
        self.rows_done = 0
        self.key_rows: dict[str, int] = {}
        self.warm_s: dict[str, float] = {}
        # whole rounds, a fixed number per --seconds: the same work in
        # every run, so cpu_s compares and the percentiles always see
        # every key equally often
        self.n_rounds = max(math.ceil(seconds / scale.round_s),
                            math.ceil(scale.min_samples / len(self.keys)))
        self.data = os.path.join(work, "data")
        self.table_rows = gen.write_tables(self.data, seed, scale.sql_sf, scale.corpus_sf)
        for t in ("documents", "embeddings"):
            self.table_rows[t] = int(self.table_rows[t] * scale.corpus_frac)
        # snapshot 0 is the untimed pass; 1.. are the timed rounds
        self.snaps = []
        for i in range(self.n_rounds + 1):
            d = os.path.join(work, f"snap{i}")
            gen.write_snapshot(self.data, d, seed * 1000 + i, scale.corpus_frac)
            self.snaps.append(d)

    def _data_dir(self, key: str, rnd: int) -> str:
        """Inputs of round ``rnd``: -1 the untimed pass, 0.. the timed
        rounds."""
        return self.snaps[rnd + 1] if key in DEDUP_KEYS else self.data

    def _request(self, key: str, data_dir: str, traced: bool) -> float:
        """One timed request: registry call plus noop-sink write. With
        tracing on, the layer reads happen after the clock stops."""
        spark, tr = self.spark, self.tracer
        if traced:
            tag = f"bench-{len(self.layers)}-{key}"
            tr.request = tag
            tr.enabled = True
            spark.sparkContext.setJobGroup(tag, tag)
            py0 = measure.tree_cpu_s(os.getpid(), measure.is_python_worker)
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span("queries.build"):
                    df = self.registry[key](spark, data_dir)
                with tr.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
            else:
                df = self.registry[key](spark, data_dir)
                df.write.format("noop").mode("overwrite").save()
        finally:
            elapsed = time.perf_counter() - t0
            if traced:
                tr.enabled = False
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                rec = measure.spark_group_stats(spark, tag)
                rec["operators.python_worker_cpu_s"] = (
                    measure.tree_cpu_s(os.getpid(), measure.is_python_worker) - py0
                )
                rec["operators._cache.persisted_rdds"], rec["operators._cache.storage_bytes"] = (
                    measure.storage_stats(spark)
                )
                rec["request"] = tag
                self.layers.append(rec)
        return elapsed

    # -- steps ----------------------------------------------------------
    def setup(self) -> None:
        """Untimed pass over every key at full scale; results are
        collected and diffed against the oracles (diff time excluded
        from ``setup_s`` by the caller via ``verifier.seconds``)."""
        cons = {}
        try:
            for key in self.keys:
                d = self._data_dir(key, -1)
                if d not in cons:
                    cons[d] = _oracle_con(d)
                t0 = time.perf_counter()
                df = self.registry[key](self.spark, d)
                pdf = df.toPandas()
                self.warm_s[key] = time.perf_counter() - t0
                self.key_rows[key] = _input_rows(df, self.table_rows)
                self.verifier.check(key, pdf, d, cons[d])
        finally:
            for con in cons.values():
                con.close()

    def _round(self, rnd: int, traced: bool) -> list[tuple[str, float, bool]]:
        rows = []
        for key in self.rng.permutation(self.keys):
            try:
                rows.append((key, self._request(key, self._data_dir(key, rnd), traced), True))
            except Exception as e:  # a failed request is counted, the loop goes on
                print(f"request {key} failed: {e!r}", file=sys.stderr)
                rows.append((key, 0.0, False))
        return rows

    def measure(self) -> None:
        for rnd in range(self.n_rounds):
            # the traced run alternates traced and untraced rounds so
            # that its own overhead can be measured
            rows = self._round(rnd, traced=self.tracer is not None and rnd % 2 == 0)
            self.rows_done += sum(self.key_rows[k] for k, _, ok in rows if ok)
            self.rounds.append(rows)

    def finish(self) -> None:
        pass

    def detail(self) -> dict:
        """Per-key untimed-pass and timed latencies, for reading a run."""
        lat: dict[str, list[float]] = {}
        for r in self.rounds:
            for k, v, ok in r:
                lat.setdefault(k, []).append(v if ok else None)
        return {"warm_s": self.warm_s, "latency_s": lat}

    def rows_per_s(self, timed_s: float) -> float:
        return self.rows_done / timed_s

    @property
    def failures(self) -> list[str]:
        return self.verifier.failures

    @property
    def verify_s_in_setup(self) -> float:
        return self.verifier.seconds

    def latencies(self) -> list[float]:
        return [lat for r in self.rounds for _, lat, ok in r if ok]

    def counts(self) -> tuple[int, int]:
        reqs = [ok for r in self.rounds for _, _, ok in r]
        return len(reqs), reqs.count(False)

    def layer_metrics(self) -> dict[str, float]:
        """Per traced request means of every layer metric, plus the
        tracing overhead: traced rounds against the untraced rounds of
        the same run."""
        tr = self.tracer
        n = max(len(self.layers), 1)
        out = {f: sum(r[f] for r in self.layers) / n for f in measure.SPARK_FIELDS}
        run, cpu = out["spark.task_run_ms"], out["spark.task_cpu_ms"]
        out["spark.task_cpu_share"] = cpu / run if run else 0.0
        out["operators.python_worker_cpu_s"] = sum(
            r["operators.python_worker_cpu_s"] for r in self.layers
        ) / n
        out["operators._cache.persisted_rdds"] = max(
            (r["operators._cache.persisted_rdds"] for r in self.layers), default=0
        )
        out["operators._cache.storage_bytes"] = max(
            (r["operators._cache.storage_bytes"] for r in self.layers), default=0
        )
        totals = tr.layer_totals()
        out["session.load_table.calls"] = totals["session.load_table"]["calls"] / n
        out["session.load_table.ms"] = totals["session.load_table"]["ms"] / n
        out["sql.register_views.calls"] = totals["sql.register_views"]["calls"] / n
        out["sql.register_views.ms"] = totals["sql.register_views"]["ms"] / n
        out["queries.build_ms"] = totals["queries.build"]["ms"] / n
        out["queries.exec_ms"] = totals["queries.exec"]["ms"] / n
        out["operators._cache.persist_calls"] = tr.persist_calls / n
        out["operators._cache.created_share"] = (
            tr.persist_created / tr.persist_calls if tr.persist_calls else 0.0
        )
        for name in ("session.load_table", "sql.register_views", "sql.sql",
                     "operators._cache.persist", "queries.build", "queries.exec"):
            out[f"{name}.self_ms"] = totals[name]["self_ms"] / n
        traced = [lat for i, r in enumerate(self.rounds) if i % 2 == 0 for _, lat, ok in r if ok]
        plain = [lat for i, r in enumerate(self.rounds) if i % 2 == 1 for _, lat, ok in r if ok]
        k = min(len(traced), len(plain))
        out["trace.overhead_share"] = (sum(traced[:k]) / sum(plain[:k]) - 1.0) if k else 0.0
        return out


    def verify(self) -> None:
        """The untimed pass diffed every key: the relational keys' inputs
        never change, so that diff covers their timed requests, and a key
        that failed it fails all of them. Each timed snapshot gets one
        more diff: round ``r`` on dedup key ``r mod 5``."""
        bad = {f.split(" @ ")[0] for f in self.verifier.failures}
        for rnd in range(len(self.rounds)):
            key = DEDUP_KEYS[rnd % len(DEDUP_KEYS)]
            d = self._data_dir(key, rnd)
            ok = self.verifier.check(key, self.registry[key](self.spark, d).toPandas(), d)
            self.rounds[rnd] = [
                (k, lat, good and k not in bad and (ok or k != key))
                for k, lat, good in self.rounds[rnd]
            ]


class StreamIngest:
    """An open loop into a streaming pipeline built from ``xform``/``api``
    steps: a stateless filter/map, watermark dedup on the event id, and
    the ``streaming.stateful`` per-key running aggregate, written by
    ``foreachBatch`` to a parquet store.

    Phase A drains a fixed pre-written backlog (``rows_per_s``); phase B
    then offers a fixed rate below that from one generator thread
    (the latencies). Rate and backlog are constants, never derived from
    a measurement, so a faster engine does not receive more load."""

    #: The highest percentile with 10 samples beyond it at 25 batches.
    TAIL_P = 0.6
    WATERMARK_S = 60
    EVENT_DT_US = 1_000      # event time advances 1 ms per event id
    JITTER_US = 500_000      # on-time events are at most 0.5 s out of order
    LATE_BASE_ID = 10**12    # ids of the late events

    def __init__(self, spark, work: str, seed: int, scale, tracer: Tracer | None, seconds: float):
        import pyarrow as pa

        self.spark, self.work, self.scale, self.tracer = spark, work, scale, tracer
        self.phase_b_s = seconds * self.PHASE_B_SHARE
        self.rng = np.random.default_rng([seed, 2])
        self.n_users = 1_500
        self.next_id = 0
        self.late_id = self.LATE_BASE_ID
        self.prev = None
        self.due: dict[str, float] = {}  # file name -> creation stamp (epoch s)
        self.file_rows: dict[str, int] = {}
        self.written = 0
        self.schema = pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()), ("created_us", pa.int64()),
        ])
        self.batches: list[dict] = []
        self.progress: list = []
        self.late_s: list[float] = []
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        self.drain_s = 0.0
        self.verify_s_in_setup = 0.0
        self._log_offset = -1  # last file-source log offset read by _batch_files

    # -- generator ------------------------------------------------------
    def _table(self, n: int, n_dup: int, n_late: int, created_us: int):
        import pyarrow as pa

        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        ts = gen.EPOCH_2024 + ids * self.EVENT_DT_US + self.rng.integers(0, self.JITTER_US, n)
        parts = [pa.table(gen.event_columns(self.rng, ids, ts, self.n_users))]
        if n_late:
            late_ids = np.arange(self.late_id, self.late_id + n_late, dtype=np.int64)
            self.late_id += n_late
            late_ts = gen.EPOCH_2024 - 86_400_000_000 - self.rng.integers(0, 3_600_000_000, n_late)
            parts.append(pa.table(gen.event_columns(self.rng, late_ids, late_ts, self.n_users)))
        if n_dup and self.prev is not None:
            parts.append(self.prev.take(self.rng.integers(0, self.prev.num_rows, n_dup)))
        self.prev = parts[0]
        t = pa.concat_tables([p.cast(self.schema.remove(6)) for p in parts])
        return t.append_column("created_us", pa.array(np.full(t.num_rows, created_us)))

    def _write_file(self, src: str, n: int, n_dup: int, n_late: int, due: float) -> str:
        import pyarrow.parquet as pq

        name = f"ev_{self.written:06d}.parquet"
        stage = os.path.join(self.work, "stage", name)
        table = self._table(n, n_dup, n_late, int(due * 1e6))
        pq.write_table(table, stage)
        self.file_rows[name] = table.num_rows
        self.due[name] = due  # before the file is visible to the query
        os.rename(stage, os.path.join(src, name))  # atomic: the source never sees half a file
        self.written += 1
        return name

    def _generate(self, src: str, stop: threading.Event, errors: list) -> None:
        """Phase B: one file every ``file_interval`` seconds on a fixed
        schedule that does not slow when the engine slows. Each file's
        creation stamp is the time it was due, so a late generator shows
        up as latency, and the lateness is recorded."""
        sc = self.scale
        n = int(sc.rate * sc.file_interval)
        t0 = time.time()
        k = 0
        try:
            while not stop.is_set():
                due = t0 + k * sc.file_interval
                wait = due - time.time()
                if wait > 0 and stop.wait(wait):
                    break
                self._write_file(src, n, int(n * sc.dup_share), int(n * sc.late_share), due)
                self.late_s.append(time.time() - due)
                k += 1
        except Exception as e:  # surfaced by measure() on the main thread
            errors.append(e)

    # -- pipeline -------------------------------------------------------
    def _query(self, src: str, ckpt: str, store: str, sink_hook, available_now: bool):
        from pyspark.sql import functions as F

        from kafka_streams_clojure_spark import xform as X
        from kafka_streams_clojure_spark.api import KStream
        from kafka_streams_clojure_spark.streaming.stateful import running_counter

        raw = (
            self.spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string, created_us long"
            )
            .option("maxFilesPerTrigger", self.scale.files_per_trigger)
            .parquet(src)
        )
        events = KStream(raw).transduce(
            X.filter_(F.col("event_type") != "error"),
            X.map_("event_id", "ts", "user_id", amount=F.col("value") * 2),
        ).df.withWatermark("ts", f"{self.WATERMARK_S} seconds")
        deduped = X.distinct(["event_id", "ts"])(events)
        totals = running_counter(deduped, key_col="user_id", value_col="amount")

        def sink(batch_df, epoch_id):
            tr = self.tracer if not available_now else None
            if tr is not None:
                tr.request = f"batch-{epoch_id}"
                tr.enabled = epoch_id % 2 == 0
            with tr.span("streaming.batch") if tr else nullcontext():
                files = self._batch_files(ckpt, epoch_id)
                t0 = time.perf_counter()
                with tr.span("streaming.sink_write") if tr else nullcontext():
                    batch_df.withColumn("__epoch", F.lit(epoch_id)).write.mode("append").parquet(store)
                done = time.time()
            if tr is not None:
                tr.enabled = False
            sink_hook(epoch_id, files, done, time.perf_counter() - t0)

        w = totals.writeStream.outputMode("update").option("checkpointLocation", ckpt)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.foreachBatch(sink).start()

    def _batch_files(self, ckpt: str, epoch_id: int) -> list[str]:
        """Files of micro-batch ``epoch_id``: the offset log names the
        file-source log offset, whose entries (possibly in a compacted
        log file) list the files."""
        with open(os.path.join(ckpt, "offsets", str(epoch_id))) as f:
            end = json.loads(f.read().splitlines()[2])["logOffset"]
        start, self._log_offset = self._log_offset, end
        files = []
        log = os.path.join(ckpt, "sources", "0")
        for off in range(start + 1, end + 1):
            path = os.path.join(log, str(off))
            compact = not os.path.exists(path)
            with open(path + ".compact" if compact else path) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    if not compact or entry["batchId"] == off:
                        files.append(os.path.basename(entry["path"]))
        return files

    # -- steps ----------------------------------------------------------
    def _dirs(self, tag: str) -> tuple[str, str, str]:
        dirs = tuple(os.path.join(self.work, tag, d) for d in ("src", "ckpt", "store"))
        os.makedirs(dirs[0], exist_ok=True)
        return dirs

    def _backlog(self, src: str, files: int) -> None:
        sc = self.scale
        for _ in range(files):
            self._write_file(src, sc.backlog_file_events, int(sc.backlog_file_events * sc.dup_share), 0, time.time())

    def setup(self) -> None:
        """Untimed pass: the same pipeline drains two full micro-batches of
        backlog (fresh source, checkpoint and store), then the timed
        backlog is written."""
        os.makedirs(os.path.join(self.work, "stage"))
        src, ckpt, store = self._dirs("warm")
        self._backlog(src, 2 * self.scale.files_per_trigger)
        q = self._query(src, ckpt, store, lambda *a: None, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"warm-up stream failed: {q.exception()}")
        self._log_offset = -1
        self.prev = None
        self.written_warm = self.written
        self.src, self.ckpt, self.store = self._dirs("main")
        self._backlog(self.src, self.scale.backlog_files)

    #: Share of ``seconds`` that phase B offers load; phase A takes about
    #: the rest at the reference box's drain rate.
    PHASE_B_SHARE = 0.8

    def measure(self) -> None:
        """Phase A (drain the backlog), then phase B: a fixed share of
        ``seconds`` at the fixed offered rate. Both are fixed work, so
        ``cpu_s`` compares across runs."""
        backlog = {n for n in self.due if int(n[3:9]) >= self.written_warm}
        drained = threading.Event()
        processed: set[str] = set()
        if self.tracer is not None:
            self.listener = _progress_listener(self.progress)
            self.spark.streams.addListener(self.listener)
            self.py_cpu = -measure.tree_cpu_s(os.getpid(), measure.is_python_worker)

        def hook(epoch_id, files, done, write_s):
            if not processed:  # the first batch carries the query's start-up
                self.drain_t0 = time.perf_counter()
                self.drain_rows = -sum(self.file_rows[f] for f in files)
            processed.update(files)
            phase_b = [f for f in files if f not in backlog]
            self.batches.append({
                "epoch": epoch_id, "files": len(files), "phase_b": bool(phase_b),
                "latency_s": done - max(self.due[f] for f in phase_b) if phase_b else None,
                "backlog_files": self.written - self.written_warm - len(processed),
                "sink_write_s": write_s, "traced": self.tracer is not None and epoch_id % 2 == 0,
            })
            if not drained.is_set() and backlog <= processed:
                self.drain_s = time.perf_counter() - self.drain_t0
                self.drain_rows += sum(self.file_rows[f] for f in backlog)
                drained.set()

        self.query = q = self._query(self.src, self.ckpt, self.store, hook, available_now=False)
        while not drained.wait(0.05):
            if q.exception() is not None or not q.isActive:
                raise RuntimeError(f"stream failed in phase A: {q.exception()}")
        stop, errors = threading.Event(), []
        gen_thread = threading.Thread(target=self._generate, args=(self.src, stop, errors))
        gen_thread.start()
        try:
            stop.wait(self.phase_b_s)
        finally:
            stop.set()
            gen_thread.join()
        if self.tracer is not None:
            self.py_cpu += measure.tree_cpu_s(os.getpid(), measure.is_python_worker)
        if errors:
            raise errors[0]
        if q.exception() is not None:
            raise RuntimeError(f"stream failed in phase B: {q.exception()}")

    def finish(self) -> None:
        """Untimed: let the query take every generated file, then stop it."""
        q = getattr(self, "query", None)
        if q is not None:
            if q.isActive:
                q.processAllAvailable()
            q.stop()
            q.awaitTermination(60)
        if hasattr(self, "listener"):
            time.sleep(0.5)  # the listener bus delivers asynchronously
            self.spark.streams.removeListener(self.listener)
            # a streaming query runs its jobs under its run id as job group
            self.spark_stats = measure.spark_group_stats(self.spark, str(q.runId))
        self.attempted = len(self.batches)

    def latencies(self) -> list[float]:
        return [b["latency_s"] for b in self.batches if b["latency_s"] is not None]

    def detail(self) -> dict:
        return {"drain_s": self.drain_s, "batches": self.batches,
                "generator_late_s_max": max(self.late_s, default=0.0)}

    def counts(self) -> tuple[int, int]:
        return self.attempted, self.failed

    def rows_per_s(self, timed_s: float) -> float:
        """Steady drain rate of the backlog: rows of every backlog batch
        after the first, over the time from the first batch's sink
        return to the last's."""
        return self.drain_rows / self.drain_s

    def verify(self) -> None:
        """The final store against a DuckDB recomputation over every
        generated file, duplicates and late events included. An event is
        late when its time is more than the watermark delay behind the
        newest event of every earlier file."""
        import duckdb

        con = duckdb.connect()
        try:
            want = con.execute(f"""
                WITH f AS (SELECT * FROM read_parquet('{self.src}/*.parquet', filename=true)),
                fm AS (SELECT filename, max(ts) AS mts FROM f GROUP BY filename),
                prev AS (SELECT filename, max(mts) OVER (ORDER BY filename ROWS BETWEEN
                         UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM fm),
                kept AS (SELECT f.* FROM f JOIN prev USING (filename)
                         WHERE pmax IS NULL OR f.ts >= pmax - INTERVAL {self.WATERMARK_S} SECOND),
                x AS (SELECT DISTINCT event_id, ts, user_id, value * 2 AS amount
                      FROM kept WHERE event_type <> 'error')
                SELECT user_id AS key, count(*) AS n, sum(amount) AS total
                FROM x GROUP BY user_id ORDER BY key""").df()
            got = con.execute(f"""
                SELECT key, arg_max(n, __epoch) AS n, arg_max(total, __epoch) AS total
                FROM read_parquet('{self.store}/*.parquet') GROUP BY key ORDER BY key""").df()
        finally:
            con.close()
        if not (len(want) == len(got) and (want["key"].values == got["key"].values).all()
                and (want["n"].values == got["n"].values).all()
                and (want["total"].values == got["total"].values).all()):
            self.failures.append(
                f"stream store: {len(got)} keys vs {len(want)} expected, "
                f"n total {int(got['n'].sum())} vs {int(want['n'].sum())}"
            )
            self.failed = self.attempted

    def layer_metrics(self) -> dict[str, float]:
        prog = self.progress
        n = max(len(prog), 1)

        def dur(key):
            return sum(p.durationMs.get(key, 0) for p in prog) / n

        def state(attr):
            return sum(getattr(op, attr) for p in prog for op in p.stateOperators)

        totals = self.tracer.layer_totals()
        traced = [b["latency_s"] for b in self.batches if b["traced"] and b["latency_s"] is not None]
        plain = [b["latency_s"] for b in self.batches if not b["traced"] and b["latency_s"] is not None]
        last = prog[-1] if prog else None
        out = {f: v / n for f, v in self.spark_stats.items()}
        run, cpu = out["spark.task_run_ms"], out["spark.task_cpu_ms"]
        out["spark.task_cpu_share"] = cpu / run if run else 0.0
        out["operators.python_worker_cpu_s"] = self.py_cpu / n
        return out | {
            "streaming.batches": len(prog),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.sink_write_ms": 1e3 * sum(b["sink_write_s"] for b in self.batches) / max(len(self.batches), 1),
            "streaming.input_rows_per_batch": sum(p.numInputRows for p in prog) / n,
            "streaming.state_rows": sum(op.numRowsTotal for op in last.stateOperators) if last else 0,
            "streaming.state_memory_bytes": sum(op.memoryUsedBytes for op in last.stateOperators) if last else 0,
            "streaming.state_commit_ms": state("commitTimeMs") / n,
            "streaming.rows_dropped_by_watermark": state("numRowsDroppedByWatermark"),
            "streaming.backlog_files_max": max((b["backlog_files"] for b in self.batches if b["phase_b"]), default=0),
            "generator.late_s_max": max(self.late_s, default=0.0),
            "streaming.batch.self_ms": totals["streaming.batch"]["self_ms"] / n,
            "streaming.sink_write.self_ms": totals["streaming.sink_write"]["self_ms"] / n,
            "trace.overhead_share": (
                (sum(traced) / len(traced)) / (sum(plain) / len(plain)) - 1.0
                if traced and plain else 0.0
            ),
        }


def _progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


WORKLOADS = {"batch_mix": BatchMix, "stream_ingest": StreamIngest}
