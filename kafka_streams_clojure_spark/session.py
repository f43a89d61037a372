"""SparkSession bootstrap + fixture table loading.

Single place where the engine's scale-oriented defaults live. The
settings mirror what we would deploy on a large cluster (AQE on, skew
join handling on, Arrow transfers on, UTC session timezone for
oracle-comparable timestamps); only ``master`` and the partition count
are local-mode artifacts, overridable via env.

Fixture reads are memoized per session: :func:`load_table` keeps the
read relation (plan, schema and file index — never rows) of every path
it has read on the ``SparkSession`` object, so a session pays the
parquet listing and schema inference once per path. An entry is reused
only while the path's stat fingerprint (inode, mtime_ns and size of
the file, or of every file under a directory dataset) is unchanged; a
changed fingerprint replaces it with a fresh read. ``spark.stop()``,
``newSession()`` and the next ``getOrCreate`` give a new session object
and so start empty.

Env knobs (driver contract):
- ``SPARK_GRAFT_CPUS``   — local core count (default: all).
- ``SPARK_GRAFT_SF_DIR`` — default fixture dir for ad-hoc runs.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: All driver-generated fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "kafka_streams_clojure_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    At cluster scale ``master`` comes from spark-submit; in this repo we
    run ``local[N]``. ``spark.sql.shuffle.partitions`` defaults to the
    local core count — at 100 TB you would size it to ~2-3x total cores
    (or let AQE coalesce, which stays enabled here).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    # One BLAS thread per Python worker: Spark's task threads are the
    # parallelism; per-worker multi-threaded GEMMs oversubscribe (r12,
    # measured 1.4x on q_llm_ann_probe_curve). Set in the driver env
    # BEFORE the JVM launches (local workers inherit it) and as
    # executorEnv for cluster mode; the kernels also self-pin via
    # operators.similarity._limit_blas_threads for externally-built
    # sessions whose JVM predates this import.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Split files finer than the 128 MB default so a 32-core local
        # run (and a wide cluster) gets real scan parallelism; AQE
        # coalesces back if partitions end up tiny.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffledHashJoinFactor", "3")
        # The events fixture stores ts as parquet TIMESTAMP(NANOS), which
        # vanilla Spark rejects; read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs every engine query depends on — applied defensively
    because the driver hands us an externally-built SparkSession:
    nanos timestamps must read as long (events.ts), and the session
    timezone must be UTC so timestamp values compare equal to the
    (UTC-naive) DuckDB oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Declared event-time columns per fixture table. The physical parquet
#: encoding of these has CHANGED between driver rounds (TIMESTAMP(NANOS)
#: through round 2, naive timestamp[us] from round 3), so the engine
#: normalizes to TimestampType whatever encoding it finds — see
#: :func:`normalize_event_time`.
_EVENT_TIME_COLS = {"events": ("ts",)}

# Back-compat alias (streaming/__init__ and older tests import this name).
_NANOS_TS_COLS = _EVENT_TIME_COLS


def normalize_event_time(df: DataFrame, cols) -> DataFrame:
    """Coerce declared event-time columns to ``TimestampType`` regardless
    of the physical parquet encoding:

    - ``bigint`` — parquet TIMESTAMP(NANOS) read via ``nanosAsLong``;
      all fixture values are µs-aligned so ``div 1000`` is lossless;
    - ``timestamp_ntz`` — naive µs timestamps (Spark 4 reads those as
      NTZ, which ``withWatermark`` rejects). The session is forced UTC,
      so an NTZ→timestamp cast is a pure type relabel: the stored
      values are identical and stay equal to DuckDB's naive reading;
    - ``timestamp`` — already correct, no-op.

    Every fixture read path (batch ``load_table``, streaming
    ``stream_table``, ``api.KStream.from_parquet``) funnels through
    this so downstream ``withWatermark`` / window operators always see
    an event-time-capable column.
    """
    dtypes = dict(df.dtypes)
    for col in cols:
        dt = dtypes.get(col)
        if dt == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dt == "string":
            # defensive: an ISO-string re-encoding of the fixture would
            # otherwise silently break every event-time operator; the
            # forced-UTC session makes the parse unambiguous.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dt is not None and dt != "timestamp":
            raise TypeError(
                f"event-time column {col!r} has unhandled physical type "
                f"{dt!r} — extend session.normalize_event_time (the fixture "
                "encoding has flipped before; failing loudly beats a broken "
                "withWatermark)"
            )
    return df


#: Attribute on the SparkSession object that holds its read memo:
#: ``{resolved path: (stat fingerprint, raw relation)}``.
_READ_MEMO_ATTR = "_graft_read_memo"


def _stat_fingerprint(path: str):
    """``(inode, mtime_ns, size)`` of a file; for a directory dataset,
    the sorted ``(relative path, inode, mtime_ns, size)`` of every file
    under it, so a part file rewritten in place, replaced, added or
    removed changes it. ``None`` when ``os.stat`` cannot see the path
    (s3a://, hdfs://)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            fs = os.stat(f)
            files.append((os.path.relpath(f, path), fs.st_ino, fs.st_mtime_ns, fs.st_size))
    return tuple(sorted(files))


def read_relation(spark: SparkSession, path: str) -> DataFrame:
    """The raw ``spark.read.parquet`` relation of ``path`` (before
    :func:`normalize_event_time`), read once per session and path while
    the path's stat fingerprint holds; a changed fingerprint replaces
    the entry. Paths ``os.stat`` cannot see are read every time."""
    fingerprint = _stat_fingerprint(path)
    if fingerprint is None:
        return spark.read.parquet(path)
    memo = spark.__dict__.setdefault(_READ_MEMO_ATTR, {})
    key = os.path.realpath(path)
    entry = memo.get(key)
    if entry is None or entry[0] != fingerprint:
        entry = memo[key] = (fingerprint, spark.read.parquet(path))
    return entry[1]


def _fresh_instance(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The same relation (file index and schema shared, no listing)
    under new attribute ids, so two reads of one table can still be
    self-joined the way two separate ``spark.read`` calls could."""
    jvm = spark.sparkContext._jvm
    plan = df._jdf.queryExecution().analyzed().newInstance()
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan), spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (columnar parquet scan; Catalyst pushes
    filters/projections down into the scan automatically).

    Memoized per session (see the module docstring): a repeat read of
    an unchanged path costs no listing and no schema-inference job, and
    each call returns the relation under fresh attribute ids. The
    engine's session confs are re-applied on every call, hit or miss,
    so a caller that resets the timezone or ``nanosAsLong`` in between
    cannot change what the next read sees."""
    _ensure_session_confs(spark)
    raw = read_relation(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_time(_fresh_instance(spark, raw), _EVENT_TIME_COLS.get(name, ()))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several fixture tables at once."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def clear_caches(spark: SparkSession) -> None:
    """Release every cached DataFrame in the session.

    Operators that read an expensive intermediate from multiple plan
    branches (`branch`, `ngram_jaccard_pairs`, `minhash_lsh_pairs`,
    `simhash_near_dups`, `lsh_cosine_pairs`, `winnow_shared_chunks`)
    persist it for the duration of their computation; the blocks stay
    referenced until the session drops them. Long-lived sessions
    running many such operators should call this between pipelines
    (the bench does)."""
    spark.catalog.clearCache()
