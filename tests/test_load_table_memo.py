"""Per-session memo of fixture reads (``session.load_table``) and the
selective view registration of ``sql.sql``.

The memo holds the read relation (plan, schema, file index — no rows)
per resolved path and stat fingerprint, on the SparkSession object. A
rewritten file or part file must give a fresh read, a new session must
start empty, the engine's session confs must still be forced on every
hit, and ``sql()`` registering only the tables its statement names
must never miss one a SQL-surface key reads.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_streams_clojure_spark import session as session_mod
from kafka_streams_clojure_spark import sql as sql_mod
from kafka_streams_clojure_spark.queries import queries
from kafka_streams_clojure_spark.session import TABLES, load_table, read_relation

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path: str, ids: list[int]) -> None:
    pq.write_table(pa.table({"id": pa.array(ids, type=pa.int64())}), path)


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.collect())


def _jobs_during(spark, tag: str, fn):
    """Run ``fn`` under a fresh job group and return the group's job
    ids (a parquet listing plus schema inference runs at least one)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(tag))


def _memo(spark) -> dict:
    return getattr(spark, session_mod._READ_MEMO_ATTR, {})


def test_repeat_read_returns_memoized_relation(spark, tmp_path):
    s = spark.newSession()
    _write(str(tmp_path / "nation.parquet"), [1, 2, 3])
    first, jobs_first = _jobs_during(s, "memo-miss", lambda: load_table(s, str(tmp_path), "nation"))
    assert jobs_first, "a first read runs a schema-inference job"
    raw = read_relation(s, str(tmp_path / "nation.parquet"))
    second, jobs_second = _jobs_during(s, "memo-hit", lambda: load_table(s, str(tmp_path), "nation"))
    assert jobs_second == []
    assert read_relation(s, str(tmp_path / "nation.parquet")) is raw
    assert list(_memo(s)) == [os.path.realpath(tmp_path / "nation.parquet")]
    assert _ids(second) == [1, 2, 3]
    # two reads of one table stay self-joinable, as two fresh reads were
    joined = first.alias("a").join(second.alias("b"), first["id"] == second["id"] + 1)
    assert joined.count() == 2


def test_rewritten_file_is_read_afresh(spark, tmp_path):
    s = spark.newSession()
    path = str(tmp_path / "orders.parquet")
    _write(path, [1, 2])
    assert _ids(load_table(s, str(tmp_path), "orders")) == [1, 2]
    raw = read_relation(s, path)
    _write(path, [5, 6, 7, 8])
    assert _ids(load_table(s, str(tmp_path), "orders")) == [5, 6, 7, 8]
    assert read_relation(s, path) is not raw
    assert len(_memo(s)) == 1, "a changed fingerprint replaces the entry"


def test_rewritten_part_file_in_directory_dataset(spark, tmp_path):
    s = spark.newSession()
    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    _write(str(d / "part-0.parquet"), [1, 2])
    _write(str(d / "part-1.parquet"), [3])
    assert _ids(load_table(s, str(tmp_path), "lineitem")) == [1, 2, 3]
    raw = read_relation(s, str(d))
    # rewritten in place: same inode, and the directory's own mtime
    # does not move, so only the part file's stat shows the change
    _write(str(d / "part-1.parquet"), [30, 31, 32])
    assert _ids(load_table(s, str(tmp_path), "lineitem")) == [1, 2, 30, 31, 32]
    assert read_relation(s, str(d)) is not raw
    _write(str(d / "part-2.parquet"), [40])  # added
    assert _ids(load_table(s, str(tmp_path), "lineitem")) == [1, 2, 30, 31, 32, 40]
    assert len(_memo(s)) == 1


def test_new_session_after_stop_starts_empty(tmp_path):
    """``spark.stop()`` then ``get_spark`` gives a new session object:
    its memo is empty and the next read works. Runs in its own process
    because stopping the shared test session would end it for every
    other test."""
    _write(str(tmp_path / "region.parquet"), [1, 2])
    script = textwrap.dedent(
        f"""
        from kafka_streams_clojure_spark.session import _READ_MEMO_ATTR, get_spark, load_table
        spark = get_spark("memo-stop")
        assert load_table(spark, {str(tmp_path)!r}, "region").count() == 2
        assert len(getattr(spark, _READ_MEMO_ATTR)) == 1
        spark.stop()
        spark2 = get_spark("memo-stop")
        assert spark2 is not spark
        assert not hasattr(spark2, _READ_MEMO_ATTR)
        assert load_table(spark2, {str(tmp_path)!r}, "region").count() == 2
        spark2.stop()
        print("STOP-OK")
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300
    )
    assert "STOP-OK" in out.stdout, out.stderr[-3000:]


@pytest.mark.parametrize("ts_type", [pa.timestamp("ns"), pa.timestamp("us")], ids=["nanos", "naive_us"])
def test_event_time_survives_conf_reset_between_hits(spark, tmp_path, ts_type):
    s = spark.newSession()
    ts = pa.array([1_700_000_000_000_000, 1_700_000_030_000_000], type=pa.timestamp("us"))
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], type=pa.int64()), "ts": ts.cast(ts_type)}),
        str(tmp_path / "events.parquet"),
    )

    def micros():
        df = load_table(s, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return [r.us for r in df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]

    before = micros()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    after = micros()
    assert after == before == [1_700_000_000_000_000, 1_700_000_030_000_000]
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def _sql_surface_keys() -> list[str]:
    """Registry keys whose function calls ``sql.sql`` (under any name)."""
    return sorted(
        key
        for key, fn in queries().items()
        if any(fn.__globals__.get(n) is sql_mod.sql for n in fn.__code__.co_names)
    )


def test_sql_registers_only_named_tables(spark, sf_dir):
    s = spark.newSession()
    sql_mod.sql(s, sf_dir, "WITH orders AS (SELECT n_nationkey FROM nation) SELECT * FROM orders")
    assert sorted(t.name for t in s.catalog.listTables() if t.isTemporary) == ["nation", "orders"]


def test_every_sql_surface_key_analyzes_in_a_session_without_views(spark, sf_dir):
    keys = _sql_surface_keys()
    assert {"q_sql_tpch_q3", "q_sql_tpch_q5", "q_agg_grouping_sets", "q_scalar_subquery"} <= set(keys)
    registry = queries()
    for key in keys:
        s = spark.newSession()
        assert not [t for t in s.catalog.listTables() if t.isTemporary]
        df = registry[key](s, sf_dir)
        df._jdf.queryExecution().assertAnalyzed()
        assert df.columns, key
        views = {t.name for t in s.catalog.listTables() if t.isTemporary}
        assert views <= set(TABLES), (key, views)
