"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Run from the root of a checkout (about three minutes). Checks that

- ``BENCHMARK.json`` names the workloads and metrics ``run.py`` emits,
  with the same units;
- every workload's untraced run emits every end-to-end metric by name
  and unit, with its outputs verified correct;
- every workload's traced run emits every per-layer metric, and its
  spans cover each layer the workload uses;
- the dedup keys never reach the ``sql`` layer (``register_views``),
  while the SQL keys do;
- with only ``BENCHMARK.json`` and the benchmark's own files (no
  engine), the command exits non-zero without printing a result.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

#: Span names each workload's traced run must record.
LAYERS = {
    "batch_mix": (
        "queries.build", "queries.exec", "session.load_table",
        "sql.register_views", "sql.sql", "operators._cache.persist",
    ),
    "stream_ingest": ("streaming.batch", "streaming.sink_write"),
}
#: Per-layer metrics that must be non-zero on the workload using the layer.
NONZERO = {
    "batch_mix": (
        "session.load_table.calls", "sql.register_views.calls", "queries.build_ms",
        "queries.exec_ms", "spark.jobs", "spark.tasks", "spark.task_cpu_ms",
        "operators.python_worker_cpu_s", "operators._cache.persist_calls",
        "operators._cache.persisted_rdds", "session.get_spark_s",
    ),
    "stream_ingest": (
        "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
        "streaming.sink_write_ms", "streaming.input_rows_per_batch",
        "streaming.state_rows", "streaming.rows_dropped_by_watermark",
        "spark.jobs", "operators.python_worker_cpu_s", "session.get_spark_s",
    ),
}


def _run(cmd: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    return spec


def run_workload(name: str, trace: int) -> dict:
    p = _run([sys.executable, "perfbench/run.py", "--workload", name, "--seed", "7",
              "--seconds", "2", "--trace", str(trace), "--tiny"], ROOT)
    assert p.returncode == 0, f"{name} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, detail["failures"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = run.PER_LAYER if trace else run.END_TO_END
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{name}: metrics {sorted(got)} != {sorted(want)}"
    return result


def check_spans(name: str) -> None:
    (path,) = glob.glob(os.path.join(ROOT, ".perfbench_work", "traces", f"{name}-seed7.json"))
    with open(path) as f:
        spans = json.load(f)
    seen = {s["name"] for s in spans}
    missing = set(LAYERS[name]) - seen
    assert not missing, f"{name}: no spans for {sorted(missing)}"
    assert all(s["end"] >= s["start"] for s in spans)
    if name == "batch_mix":
        views = {}
        for s in spans:
            key = s["request"].split("-", 2)[2]
            views[key] = views.get(key, 0) + (s["name"] == "sql.register_views")
        assert all(views[k] == 0 for k in workloads.DEDUP_KEYS if k in views), views
        assert all(views[k] > 0 for k in ("q_sql_tpch_q3", "q_sql_tpch_q5", "q_sql_tpch_q9")), views


def check_bare_dir(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                                    "--seconds", "1", "--trace", "0"], bare)
        assert p.returncode != 0, "ran without the engine"
        assert '"metrics"' not in p.stdout, "printed a result without the engine"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    spec = check_manifest()
    check_bare_dir(spec)
    for name in workloads.WORKLOADS:
        run_workload(name, 0)
        layers = run_workload(name, 1)["metrics"]
        zero = [k for k in NONZERO[name] if not layers[k]["value"]]
        assert not zero, f"{name}: zero per-layer metrics {zero}"
        check_spans(name)
        print(f"selftest: {name} ok", flush=True)
    print("selftest: all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
