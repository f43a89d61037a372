"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Builds the workload's inputs from
``--seed``, starts the engine's Spark session with a fixed number of
local task slots, runs one untimed pass, measures, checks the outputs
against DuckDB, and prints one JSON object as the last line of standard
output: ``{"correct", "attempted", "failed", "metrics"}``. The line
before it carries the full detail (probe bracket, sample counts, the
per-layer numbers of a traced run). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import asdict, dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Local task slots: fixed, below the 4 cores of the reference box, so
#: the load generator and the driver keep a core of their own.
SLOTS = 3


@dataclass(frozen=True)
class Scale:
    sql_sf: float             # table scale (lineitem = 6M * sf rows)
    corpus_sf: float          # documents/embeddings scale (documents = 50k * sf rows)
    corpus_frac: float        # share of the corpus each round's snapshot keeps
    round_s: float            # planning estimate of one round: rounds = seconds / round_s
    min_samples: int          # requests per run, at least
    rate: int                 # stream_ingest phase B offered rate, events/s
    file_interval: float      # one source file per interval in phase B
    backlog_files: int        # stream_ingest phase A backlog ...
    backlog_file_events: int  # ... of this many events per file
    files_per_trigger: int    # maxFilesPerTrigger of the stream source
    dup_share: float          # re-sent events per file
    late_share: float         # events behind the watermark per phase B file


FULL = Scale(
    sql_sf=0.005, corpus_sf=0.1, corpus_frac=0.2, round_s=15.0, min_samples=25,
    rate=2000, file_interval=0.5, backlog_files=40,
    backlog_file_events=1000, files_per_trigger=10, dup_share=0.05,
    late_share=0.01,
)
#: For the self-test only: every code path, minimal data.
TINY = Scale(
    sql_sf=0.001, corpus_sf=0.01, corpus_frac=0.5, round_s=1e9, min_samples=1,
    rate=500, file_interval=0.1, backlog_files=4,
    backlog_file_events=200, files_per_trigger=2, dup_share=0.05,
    late_share=0.02,
)

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "rows_per_s": "rows/s", "cpu_s": "s", "peak_rss_mb": "MB",
}

#: Every per-layer metric of a traced run, with its unit. A workload
#: reports 0 for a layer it does not use. Batch metrics are means per
#: traced request, streaming ones means per micro-batch, unless the
#: README says otherwise.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.load_table.calls": "count",
    "session.load_table.ms": "ms",
    "session.load_table.self_ms": "ms",
    "sql.register_views.calls": "count",
    "sql.register_views.ms": "ms",
    "sql.register_views.self_ms": "ms",
    "sql.sql.self_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build.self_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.exec.self_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_cpu_share": "ratio",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "operators.python_worker_cpu_s": "s",
    "operators._cache.persist_calls": "count",
    "operators._cache.persist.self_ms": "ms",
    "operators._cache.created_share": "ratio",
    "operators._cache.persisted_rdds": "count",
    "operators._cache.storage_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.sink_write_ms": "ms",
    "streaming.batch.self_ms": "ms",
    "streaming.sink_write.self_ms": "ms",
    "streaming.input_rows_per_batch": "rows",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "rows",
    "streaming.backlog_files_max": "count",
    "generator.late_s_max": "s",
    "trace.overhead_share": "ratio",
}


def _prepare_env(work: str, slots: int) -> None:
    """Keep every file the run writes inside its work directory (Python
    and JVM temp files, Spark shuffle and block files)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # The heap is committed and touched up front (min = max = 2 GB), so
    # peak memory does not depend on when the collector grows the heap.
    # Without -XX:-UsePerfData each JVM would write a counters file to
    # the system /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData '
        f'-Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = None


def _import_engine() -> None:
    """Import the engine from this checkout, or exit non-zero."""
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    try:
        import kafka_streams_clojure_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from {pkg.__file__}, not this checkout", file=sys.stderr)
        sys.exit(2)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM
    and the python workers it started have exited."""
    import subprocess

    import measure
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    started = measure.tree_pids(proc.pid)
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool, slots: int, scale: Scale) -> dict:
    import measure
    import workloads
    from trace import Tracer

    from kafka_streams_clojure_spark.session import get_spark

    work = os.environ["PERFBENCH_WORK"]
    probe_before = measure.probe_bracket_point()
    pid = os.getpid()

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    get_spark_s = time.perf_counter() - t0
    try:
        tracer = Tracer() if trace else None
        if tracer is not None:
            tracer.install()
        wl = workloads.WORKLOADS[workload](spark, work, seed, scale, tracer, seconds)
        wl.setup()
        verify_s = wl.verify_s_in_setup
        setup_s = time.perf_counter() - t0 - verify_s

        cpu0 = measure.tree_cpu_s(pid)
        with measure.RssSampler(pid) as rss:
            t1 = time.perf_counter()
            try:
                wl.measure()
                timed_s = time.perf_counter() - t1
                cpu_s = measure.tree_cpu_s(pid) - cpu0
            finally:
                wl.finish()
        wl.verify()
        layers = wl.layer_metrics() if tracer is not None else {}
        if tracer is not None:
            tracer.dump(os.path.join(os.environ["PERFBENCH_TRACES"], f"{workload}-seed{seed}.json"))
    finally:
        _stop_spark(spark)
    probe_after = measure.probe_bracket_point()

    lat = wl.latencies()
    attempted, failed = wl.counts()
    if trace:
        layers["session.get_spark_s"] = get_spark_s
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": measure.median(lat),
        "latency_tail_s": measure.percentile(lat, wl.TAIL_P),
        "rows_per_s": wl.rows_per_s(timed_s),
        "cpu_s": cpu_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    failures = wl.failures
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "slots": slots,
        "trace": trace, "scale": asdict(scale), "tail_percentile": wl.TAIL_P,
        "samples": len(lat), "timed_s": timed_s, "get_spark_s": get_spark_s,
        "verify_s_in_setup": verify_s, "failures": failures,
        "probe": {"before": probe_before, "after": probe_after},
        "correct": not failures, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layers, "workload_detail": wl.detail(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("batch_mix", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=SLOTS,
                    help="local task slots (1 gives the single-slot baseline)")
    ap.add_argument("--tiny", action="store_true", help="minimal data, for the self-test")
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PERFBENCH_WORK"] = work
    os.environ["PERFBENCH_TRACES"] = os.path.join(base, "traces")
    os.makedirs(os.environ["PERFBENCH_TRACES"], exist_ok=True)
    try:
        _prepare_env(work, args.slots)
        _import_engine()
        detail = run(args.workload, args.seed, args.seconds, bool(args.trace), args.slots,
                     TINY if args.tiny else FULL)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = detail["per_layer"] if args.trace else detail["end_to_end"]
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps(detail, default=float))
    print(json.dumps({
        "correct": detail["correct"], "attempted": detail["attempted"],
        "failed": detail["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
