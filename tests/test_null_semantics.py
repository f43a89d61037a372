"""Regression tests for null/duplicate semantics the fixtures can't
exercise (no nulls, unique keys) — the code-review findings of round 1."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_clojure_spark import xform as X


def test_dedupe_keeps_null_transitions(spark):
    """[A, null, B] in order: all three rows survive dedupe (each
    differs from its predecessor, null included); [A, null, null, A]
    drops only the second null."""
    df = spark.createDataFrame(
        [(1, "A"), (2, None), (3, "B")], "ord int, v string"
    )
    out = sorted(
        r.ord for r in X.dedupe(["v"], order_by=[F.col("ord")])(df).collect()
    )
    assert out == [1, 2, 3]

    df2 = spark.createDataFrame(
        [(1, "A"), (2, None), (3, None), (4, "A")], "ord int, v string"
    )
    out2 = sorted(
        r.ord for r in X.dedupe(["v"], order_by=[F.col("ord")])(df2).collect()
    )
    assert out2 == [1, 2, 4]


def test_partition_by_null_runs(spark):
    """[A, A, null, null, A] → run ids [1, 1, 2, 2, 3]: a null run is
    its own run; consecutive nulls share one run; first row is always
    a new run even if its value is null."""
    df = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, None), (4, None), (5, "A")], "ord int, v string"
    )
    runs = {
        r.ord: r.run_id
        for r in X.partition_by(F.col("v"), order_by=[F.col("ord")])(df).collect()
    }
    assert [runs[i] for i in range(1, 6)] == [1, 1, 2, 2, 3]

    df2 = spark.createDataFrame([(1, None), (2, None)], "ord int, v string")
    runs2 = {
        r.ord: r.run_id
        for r in X.partition_by(F.col("v"), order_by=[F.col("ord")])(df2).collect()
    }
    assert [runs2[1], runs2[2]] == [1, 1]


def test_except_removes_all_right_matches(spark):
    """SQL EXCEPT: a left value present on the right disappears even if
    the left has duplicates of it (exceptAll+distinct would keep it)."""
    left = spark.createDataFrame([(1,), (1,), (2,)], "v int")
    right = spark.createDataFrame([(1,)], "v int")
    assert [r.v for r in left.subtract(right).collect()] == [2]


def test_salted_agg_splits_identical_hot_rows(spark):
    """A hot key of IDENTICAL repeated rows must spread across salts
    (content-derived salts would collapse them onto one reducer) and
    still aggregate exactly."""
    from kafka_streams_clojure_spark.operators.skew import salted_agg

    hot = spark.createDataFrame([("hot", 1.0)] * 1000 + [("cold", 2.0)], "k string, v double")
    out = {r.k: (r.n, r.total) for r in salted_agg(hot, ["k"], {"total": F.col("v")}).collect()}
    assert out["hot"] == (1000, 1000.0)
    assert out["cold"] == (1, 2.0)
    # distribution check: the phase-1 salt must take many values
    n_salts = (
        hot.filter(F.col("k") == "hot")
        .select(F.pmod(F.monotonically_increasing_id(), F.lit(16)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts > 4


def test_running_counter_string_key(spark, sf_dir):
    """Stateful counter with a non-long key column (schema is derived,
    not hardcoded)."""
    from kafka_streams_clojure_spark.queries._util import load_table
    from kafka_streams_clojure_spark.streaming import run_available_now, stream_table
    from kafka_streams_clojure_spark.streaming.stateful import running_counter

    ev = stream_table(spark, sf_dir, "events")
    out = run_available_now(running_counter(ev, key_col="event_type"), "update")
    got = {r.key: r.n for r in out.collect()}
    want = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_running_counter_null_key_and_nan_values(spark, tmp_path):
    """Null key = its own group; n counts every row (null/NaN values
    included); total skips null and NaN and is 0.0 for a key with no
    other values — a bare sum would turn key 3's NaN into a NaN total."""
    import uuid

    from kafka_streams_clojure_spark.streaming.stateful import running_counter

    schema = "k long, v double"
    rows = [(1, 1.0), (1, None), (2, None), (2, None), (None, 5.0),
            (None, 2.0), (3, float("nan")), (3, 4.0)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"rc_{uuid.uuid4().hex[:8]}"
    q = (
        running_counter(stream, key_col="k", value_col="v")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {r.key: (r.n, r.total) for r in spark.table(name).collect()}
    assert got == {1: (2, 1.0), 2: (2, 0.0), 3: (2, 4.0), None: (2, 7.0)}


def test_branch_null_predicate_falls_through(spark):
    """A record whose earlier predicate evaluates to SQL NULL must fall
    through to the first matching later branch (KS: non-TRUE = no
    match), not vanish from all branches."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, -5)], "id int, a int"
    )
    b = X.branch(df, F.col("a") > 0, F.lit(True), persist=False)
    b0 = {r.id for r in b[0].collect()}
    b1 = {r.id for r in b[1].collect()}
    assert b0 == {1}
    assert b1 == {2, 3}, "NULL-predicate row must land in the catch-all"


def test_asof_join_ignores_null_right_ts(spark):
    """Right rows with NULL ts/key are not as-of matches (DuckDB/pandas
    semantics): a left row older than every valid right row gets NULL,
    not the null-ts payload."""
    from kafka_streams_clojure_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 1, 5)], "lid long, k long, ts long")
    right = spark.createDataFrame(
        [(1, None, 100), (1, 10, 200), (None, 3, 300)],
        "k long, ts long, payload long",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["payload"]
    ).collect()
    assert len(out) == 1 and out[0].payload is None
    inner = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["payload"], how="inner",
    ).collect()
    assert inner == []


def test_decontaminate_null_text_is_clean(spark):
    """A null-text training doc has no shingles (split(null) -> null,
    the short path's array_join yields a null shingle collect_set
    drops) — it must be ABSENT from the hit list (treated as clean),
    never crash or match the null shingle of a null bench doc."""
    from kafka_streams_clojure_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None)],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(10, None), (11, "a doc with the quick brown fox jumps inside")],
        "doc_id long, text string",
    )
    hits = {int(r.doc_id) for r in decontaminate(train, bench).collect()}
    assert hits == {11}


def test_repetition_stats_null_text_excluded(spark):
    """Null text tokenizes to nothing (size -> -1 < 2) — the doc is
    excluded from the output exactly like a <2-token doc, not emitted
    with null/NaN ratios."""
    from kafka_streams_clojure_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, None), (2, "a b a")], "doc_id long, text string"
    )
    out = {int(r.doc_id) for r in repetition_stats(df).collect()}
    assert out == {2}
    out_tok_only = {
        int(r.doc_id) for r in repetition_stats(df, bigrams=False).collect()
    }
    assert out_tok_only == {2}


def test_quantize_null_and_zero_embeddings_dropped(spark):
    """int8 quantization semantics on degenerate vectors: a NULL
    embedding yields NULL scale, an all-zero embedding yields scale 0 —
    both are excluded by the scale > 0 filter in BOTH engines (NULL
    comparisons are not-true in Spark and DuckDB alike)."""
    import duckdb

    df = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda y: F.abs(y.cast("double")))
    ).cast("double")
    kept = (
        df.select("vec_id", scale.alias("scale"))
        .filter(F.col("scale") > 0)
        .collect()
    )
    assert [r.vec_id for r in kept] == [1]
    assert kept[0].scale == 2.0

    got = duckdb.sql(
        """
        WITH e(vec_id, embedding) AS (VALUES
          (1, [CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)]),
          (2, NULL), (3, [CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)]))
        SELECT vec_id FROM (
          SELECT vec_id,
                 CAST(list_max(list_transform(embedding,
                        y -> abs(CAST(y AS DOUBLE)))) AS DOUBLE) AS scale
          FROM e) WHERE scale > 0
        """
    ).fetchall()
    assert [r[0] for r in got] == [1]


def test_length_band_null_lengths_dropped(spark):
    """A NULL n_chars row can never satisfy lo <= n_chars <= hi (the
    comparison is not-true, identically in SQL) — it must be dropped,
    not treated as in-band."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20), (4, 30)], "doc_id long, n_chars int"
    )
    band = F.broadcast(
        df.agg(
            F.percentile("n_chars", 0.0).alias("lo"),
            F.percentile("n_chars", 1.0).alias("hi"),
        )
    )
    kept = sorted(
        r.doc_id
        for r in df.crossJoin(band)
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .collect()
    )
    assert kept == [1, 3, 4]


def test_incremental_dedup_null_text_contract(spark):
    """NULL-text rows fingerprint to NULL: a NULL key never equi-matches
    in the anti join (row survives the corpus probe), and all NULL-fp
    batch rows form ONE keep-first group (min id kept). Documented
    contract, pinned here."""
    from kafka_streams_clojure_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame([(0, None)], "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, None), (3, None), (5, "real text")], "doc_id bigint, text string"
    )
    ids = sorted(r.doc_id for r in incremental_dedup(new, corpus).collect())
    assert ids == [1, 5]  # 3 deduped against 1; nulls never match corpus


def test_salted_join_null_keys(spark):
    """NULL join keys behave exactly like the plain join: dropped by
    inner, null-padded by left."""
    from kafka_streams_clojure_spark.operators.skew import salted_join

    left = spark.createDataFrame([(None, "x"), (1, "a")], "k bigint, lv string")
    right = spark.createDataFrame([(1, "r"), (None, "nr")], "k bigint, rv string")
    inner = [(r.k, r.rv) for r in salted_join(left, right, ["k"]).collect()]
    assert inner == [(1, "r")]
    left_j = sorted(
        ((r.k, r.rv) for r in salted_join(left, right, ["k"], how="left").collect()),
        key=str,
    )
    assert left_j == sorted([(1, "r"), (None, None)], key=str)


def test_asof_forward_ignores_null_right_ts(spark):
    """Forward direction shares the backward contract: right rows with
    NULL key/ts can never be a match."""
    from kafka_streams_clojure_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 1, 10)], "lid long, k long, ts long")
    right = spark.createDataFrame(
        [(100, 1, None), (101, None, 20), (102, 1, 30)],
        "rid long, k long, ts long",
    )
    got = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["rid"],
        direction="forward",
    ).collect()
    assert len(got) == 1 and got[0].rid == 102


def test_containment_null_text_absent_and_asymmetric(spark):
    """A null-text doc has no shingle set, so it joins no pair; and a
    doc fully pasted inside a longer one scores cont=1.0 on its side
    while the long side stays partial (the asymmetry Jaccard hides)."""
    from kafka_streams_clojure_spark.operators.dedup import ngram_containment_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h i j"), (3, None)],
        "doc_id long, text string",
    )
    out = ngram_containment_pairs(docs, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.cont_a == 1.0  # every 4-gram of doc 1 appears in doc 2
    assert r.cont_b < 1.0


def test_dynamic_session_null_ts_dropped_null_gap_default(spark):
    """session_window(ts, gap_expr): a NULL-ts event belongs to no
    session (dropped, matching the oracle's window functions which
    never see it in a frame); a NULL event_type takes the otherwise()
    gap; and a long-gap event BRIDGES a following event a fixed short
    gap would split — the running-max-of-ends semantics the oracle
    must mirror."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00", "click"),
            (1, "2020-01-01 00:10:00", None),
            (1, None, "click"),
            (2, "2020-01-01 00:00:00", "purchase"),
            (2, "2020-01-01 00:40:00", "click"),
            # user 3: second event lands EXACTLY on the first window's
            # end — Spark merges at the boundary (oracle must use >=)
            (3, "2020-01-01 00:00:00", "click"),
            (3, "2020-01-01 00:15:00", "click"),
        ],
        "user_id long, ts string, event_type string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    gap = F.when(F.col("event_type") == "purchase", F.lit("45 minutes")).otherwise(
        F.lit("15 minutes")
    )
    out = {
        r.user_id: r
        for r in (
            df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n"))
            .select("user_id", F.col("w.end").alias("e"), "n")
        ).collect()
    }
    assert len(out) == 3, f"expected one session per user, got {out}"
    assert out[1].n == 2  # null-ts row dropped
    assert out[1].e.minute == 25  # null type -> 15-min gap after 00:10
    # 45-min purchase gap bridges the 00:40 click into one session
    assert out[2].n == 2 and out[2].e.minute == 55
    # exact-boundary event merges (end is inclusive for the NEXT start)
    assert out[3].n == 2 and out[3].e.minute == 30


def test_asof_tolerance_boundary_inclusive(spark):
    """tolerance nulls matches STRICTLY older than left_ts - tolerance;
    a match exactly AT the boundary survives (>= in the band check,
    mirroring the oracle's CASE WHEN c.ts >= p.ts - INTERVAL)."""
    from pyspark.sql import functions as F

    from kafka_streams_clojure_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2020-01-01 02:00:00"), (2, "2020-01-01 05:00:00")],
        "lid long, ts string",
    ).select("lid", F.lit(1).alias("k"), F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("2020-01-01 01:00:00", 10)], "ts string, payload long"
    ).select(F.lit(1).alias("k"), F.col("ts").cast("timestamp").alias("ts"), "payload")
    out = {
        r.lid: r.payload
        for r in asof_join(
            left,
            right,
            on="k",
            left_ts="ts",
            right_ts="ts",
            right_cols=["payload"],
            tolerance=F.expr("INTERVAL 1 HOUR"),
        ).collect()
    }
    assert out[1] == 10  # exactly 1h old: inside the band
    assert out[2] is None  # 4h old: nulled


def test_stateful_asof_drops_null_keys_and_ts(spark):
    """stateful_asof_join filters null key/ts rows up front (the as-of
    null-key rule): a null-ts click must never become a version
    (pd.NaT.value is a sentinel int that would otherwise join), and a
    null-key purchase must not emit."""
    from pyspark.sql import functions as F

    from kafka_streams_clojure_spark.streaming.stateful import stateful_asof_join

    rows = [
        (1, "r", "2020-01-01 01:00:00", 100, 10.0),
        (1, "r", None, 101, 99.0),            # null-ts version: dropped
        (None, "l", "2020-01-01 02:00:00", 102, 1.0),  # null key: dropped
        (1, "l", "2020-01-01 03:00:00", 103, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, side string, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import uuid

    src = f"/tmp/kscs_null_asof_{uuid.uuid4().hex[:8]}"
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    name = f"na_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_asof_join(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {(r.key, r.left_id): r.right_value for r in spark.table(name).collect()}
    assert got == {(1, 103): 10.0}


def test_scd2_state_null_safe_runs(spark, tmp_path):
    """The streaming SCD2 machine treats consecutive NULL states as
    ONE run (null-safe change detection, the dedupe/partition_by
    rule): [A, null, null, B] closes A at the first null and closes
    the 2-event null run at B; the open B run stays in state (no
    emission)."""
    import os
    import uuid

    import datetime as dt

    from kafka_streams_clojure_spark.streaming.stateful import scd2_state

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (7, "A", t0, 1),
        (7, None, t0 + dt.timedelta(minutes=1), 2),
        (7, None, t0 + dt.timedelta(minutes=2), 3),
        (7, "B", t0 + dt.timedelta(minutes=3), 4),
    ]
    src = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    d = str(tmp_path / "scd2_null_src")
    src.coalesce(1).write.parquet(os.path.join(d, "p_a"))
    stream = spark.readStream.schema(src.schema).parquet(os.path.join(d, "p_*"))
    name = f"scd2n_{uuid.uuid4().hex[:8]}"
    q = (
        scd2_state(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    got = sorted(
        ((r.state, r.n_events) for r in spark.table(name).collect()),
        key=lambda t: (t[0] is not None, t[0] or ""),
    )
    assert got == [(None, 2), ("A", 1)]


def test_drift_term_scale_is_tie_free():
    """q_events_drift_chi2 decimal-casts its per-bin drift terms at
    DECIMAL(18,12) before summing; Spark rounds half-UP, DuckDB
    half-EVEN, so parity rests on no term having an exact 13-digit
    decimal expansion ending the rounding digit at a tie. Verified
    over every fixture SF (the centroid-scale guard discipline); if a
    fixture regeneration trips this, move the cast scale on BOTH
    engines."""
    from decimal import Decimal

    import duckdb

    for sf in ["0.001", "0.01", "0.1"]:
        terms = duckdb.sql(f"""
        WITH events AS (
          SELECT * FROM read_parquet('/root/testdata/sf{sf}/events.parquet')
        ),
        b AS (
          SELECT min(value) AS mn, max(value) AS mx,
                 (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
          FROM events
        ),
        binned AS (
          SELECT event_type,
                 least(CAST(floor((value - b.mn) * 10e0 / (b.mx - b.mn))
                            AS BIGINT), 9) AS bin,
                 CASE WHEN epoch_us(ts) <= b.mid_us THEN 1 ELSE 0 END AS h1
          FROM events, b WHERE b.mx > b.mn
        ),
        c AS (
          SELECT event_type, bin,
                 CAST(sum(h1) AS BIGINT) AS n1,
                 CAST(sum(1 - h1) AS BIGINT) AS n2
          FROM binned GROUP BY 1, 2
        ),
        t AS (
          SELECT event_type, CAST(sum(n1) AS BIGINT) AS t1,
                 CAST(sum(n2) AS BIGINT) AS t2
          FROM c GROUP BY 1
        )
        SELECT (CAST(n1 AS DOUBLE)/t.t1 - CAST(n2 AS DOUBLE)/t.t2)
               * (CAST(n1 AS DOUBLE)/t.t1 - CAST(n2 AS DOUBLE)/t.t2)
               / (CAST(n1 AS DOUBLE)/t.t1 + CAST(n2 AS DOUBLE)/t.t2) AS term
        FROM c JOIN t USING (event_type)
        WHERE t.t1 > 0 AND t.t2 > 0 AND n1 + n2 > 0
        """).df()["term"]
        ties = [
            float(v)
            for v in terms
            if -Decimal(float(v)).normalize().as_tuple().exponent == 13
        ]
        assert not ties, (
            f"sf{sf}: {len(ties)} drift term(s) are exact decimal(…,12) "
            f"rounding ties, e.g. {ties[:3]} — move the cast scale"
        )


def test_winnowing_null_and_empty_text(spark):
    """Null text yields NO fingerprints (split(null) explodes to
    nothing — the decontaminate convention); empty text yields exactly
    one (the hash of its single empty shingle); both deterministic,
    neither crashes the window-min path."""
    from kafka_streams_clojure_spark.operators.dedup import (
        winnowing_fingerprints,
    )
    from kafka_streams_clojure_spark.plans import physical_plan

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, None),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = winnowing_fingerprints(df)
    plan = physical_plan(out)
    assert "REPARTITION_BY_NUM" not in plan and "lead(" not in plan, plan
    fps = {}
    for r in out.collect():
        fps.setdefault(int(r.doc_id), set()).add(int(r.fp))
    assert 2 not in fps, "null-text doc must emit no fingerprints"
    assert len(fps[3]) == 1, "empty text = one whole-text fingerprint"
    assert len(fps[1]) >= 1


def test_commonness_null_text_excluded(spark, sf_dir):
    """explode(split(null)) emits no rows — a null-text doc is simply
    absent from the commonness output, never a null/NaN score."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from kafka_streams_clojure_spark.queries._util import load_table

    # engine path on a synthetic frame mirroring the key's plan
    df = spark.createDataFrame(
        [(1, "a a b"), (2, None)], "doc_id long, text string"
    )
    tok = df.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    wf = tok.groupBy("w").agg(F.count("*").alias("n_w"))
    out = tok.join(wf, "w").groupBy("doc_id").count().collect()
    assert {int(r.doc_id) for r in out} == {1}


def test_asof_bucketed_null_semantics_match_plain(spark):
    """The bucketed as-of must inherit the plain form's null contract
    exactly: null-key/null-ts RIGHT rows are never matches, and a
    null-ts LEFT row (bucket NULL inherits no seed) matches nothing —
    checked by direct comparison against asof_join on data planted
    with every null case."""
    from kafka_streams_clojure_spark.operators.joins import (
        asof_join,
        asof_join_bucketed,
    )

    left = spark.createDataFrame(
        [(1, 1, 500_000_000), (2, 1, None), (3, None, 500_000_000)],
        "lid long, k long, us long",
    ).selectExpr("lid", "k", "timestamp_micros(us) AS ts")
    right = spark.createDataFrame(
        [(1, None, 100), (1, 400_000_000, 200), (None, 300_000_000, 300)],
        "k long, us long, payload long",
    ).selectExpr("k", "timestamp_micros(us) AS ts", "payload")
    kw = dict(on="k", left_ts="ts", right_ts="ts", right_cols=["payload"])
    plain = {(r.lid, r.payload) for r in asof_join(left, right, **kw).collect()}
    for bucket in ("1 day", "1 minute"):
        got = {
            (r.lid, r.payload)
            for r in asof_join_bucketed(left, right, bucket=bucket, **kw).collect()
        }
        assert got == plain == {(1, 200), (2, None), (3, None)}, (bucket, got)


def test_near_dup_ingest_null_text_accepted_without_bands(spark):
    """A null-text delta doc has no shingles, hence no signature and
    no band rows — it must be ACCEPTED (nothing to match on) and must
    contribute NO band rows to the index (a null doc must never become
    a match-everything bucket)."""
    from kafka_streams_clojure_spark.operators.dedup import (
        minhash_band_rows,
        near_dup_ingest_delta,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    index = minhash_band_rows(corpus)
    batch = spark.createDataFrame(
        [(10, None), (11, "completely unrelated fresh words here now")],
        "doc_id bigint, text string",
    )
    accepted, bands = near_dup_ingest_delta(batch, index)
    assert {r.doc_id for r in accepted.collect()} == {10, 11}
    assert {r.doc_id for r in bands.collect()} == {11}



def test_cdc_null_and_empty_text(spark, duck):
    """CDC family null discipline (the fixtures have no nulls — hard
    rule): NULL text yields no chunks, NULL total_chars and NULL frac;
    empty text yields 0 total and NULL frac — identically in DuckDB
    over the same synthetic rows."""
    import pandas as pd

    from kafka_streams_clojure_spark.operators.dedup import (
        cdc_chunks_sql_ctes,
        cdc_dedup_report,
    )

    rows = [
        (1, "hello world this is fine and long enough"),
        (2, None),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in cdc_dedup_report(docs).collect()}
    assert got[2]["n_chunks"] == 0 and got[2]["total_chars"] is None
    assert got[2]["dup_char_frac"] is None
    assert got[3]["n_chunks"] == 0 and got[3]["total_chars"] == 0
    assert got[3]["dup_char_frac"] is None

    con = duck.cursor()
    con.register("nulldocs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = f"""
    WITH {cdc_chunks_sql_ctes('nulldocs')},
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM chunks
      GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
           b.len AS total_chars,
           CASE WHEN b.len > 0 THEN 0.0e0 END AS frac_guard
    FROM base b LEFT JOIN per_doc USING (doc_id)
    """
    orc = {r[0]: r for r in con.sql(oracle).fetchall()}
    for did in (1, 2, 3):
        assert orc[did][1] == got[did]["n_chunks"]
        assert orc[did][2] == got[did]["total_chars"]
    assert orc[2][3] is None and orc[3][3] is None  # the guard nulls out


def test_compress_ratio_null_text(spark):
    """NULL text behaves like empty: 0 raw bytes, NULL ratio (guarded
    denominator), never a crash in the Arrow batch."""
    from kafka_streams_clojure_spark.operators.text import compress_ratio

    docs = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in compress_ratio(docs).collect()}
    assert got[2]["raw_bytes"] == 0 and got[2]["compress_ratio"] is None


def test_capped_sessionizer_null_key_rows(spark):
    """A NULL user_id row groups into its own key partition under the
    repartition+sort mapInPandas scan — it must not crash the int64
    numpy cast path; the engine policy (matching the as-of family) is
    to FILTER null keys before sessionizing."""
    from pyspark.sql import functions as F

    from kafka_streams_clojure_spark.operators.sessionize import (
        capped_sessions,
    )

    ev = spark.createDataFrame(
        [(1, 100, 1), (None, 200, 2), (1, 300, 3)],
        "user_id bigint, tu bigint, event_id bigint",
    )
    out = capped_sessions(
        ev.filter(F.col("user_id").isNotNull()), gap_us=1000, cap_us=5000
    ).collect()
    assert {r["user_id"] for r in out} == {1}
    assert sum(r["n_events"] for r in out) == 2
