"""Fluent stream-API facade — the reference's user-facing shapes on top
of the combinator layer.

The reference exposes: ``stream`` (source), ``transduce-kstream``
(install a composed xform, api.clj:49-51), ``branch``/``branch-map``
(api.clj:62-88), ``value-joiner``/``key-value-mapper`` adapters
(api.clj:90-100), sink ``.to``, and the KStream high-level methods as
its parity roadmap (README.md:68-70). :class:`KStream` offers those
same verbs fluently over a DataFrame (batch or streaming — the plan is
identical either way); everything delegates to
:mod:`kafka_streams_clojure_spark.xform`, so the two styles compose.

>>> out = (KStream.from_parquet(spark, path)
...        .filter(F.col("value").isNotNull())
...        .map(key=F.col("value"), value=F.col("key"))
...        .filter(F.col("value") == "foo")
...        .to_df())
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_clojure_spark import xform as X


def value_joiner(f, out_col: str = "joined_value", *in_cols: str):
    """First-class combine-step adapter — ``value-joiner`` parity
    (api.clj:90-94): lift a ``(v1, v2) -> Column`` function into a
    post-join transform that appends its result as ``out_col``.

    >>> vj = value_joiner(lambda a, b: F.concat_ws(":", a, b),
    ...                   "pair", "left_val", "right_val")
    >>> stream.join(table, on="key", joiner=vj)
    """

    def apply(df: DataFrame) -> DataFrame:
        args = [F.col(c) for c in in_cols]
        return df.withColumn(out_col, f(*args))

    return apply


class KStream:
    """A fluent wrapper over a (bounded or unbounded) DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- sources ------------------------------------------------------
    @classmethod
    def from_parquet(
        cls, spark: SparkSession, path: str, coerce_ntz: bool = True
    ) -> "KStream":
        """Open an arbitrary parquet path. Applies the engine session
        confs (UTC tz, nanosAsLong) and the same event-time fixups as
        ``load_table``: declared fixture event-time columns get the
        bigint-nanos/NTZ→TimestampType coercion, and — when
        ``coerce_ntz`` (default) — any OTHER ``timestamp_ntz`` column
        is relabeled ``timestamp`` too (the session is forced UTC so
        the cast is value-identical) — so a KStream built from any
        parquet can always be watermarked. Pass ``coerce_ntz=False``
        to keep intentional NTZ (wall-clock) semantics on columns you
        will not watermark: the blanket relabel is a schema TYPE change
        even though no value moves."""
        import os as _os

        from kafka_streams_clojure_spark.session import (
            _EVENT_TIME_COLS,
            _ensure_session_confs,
            normalize_event_time,
        )

        _ensure_session_confs(spark)
        df = spark.read.parquet(path)
        name = _os.path.basename(path.rstrip("/")).removesuffix(".parquet")
        declared = _EVENT_TIME_COLS.get(name, ())
        df = normalize_event_time(df, declared)
        if coerce_ntz:
            ntz = [c for c, t in df.dtypes if t == "timestamp_ntz" and c not in declared]
            df = normalize_event_time(df, ntz)
        return cls(df)

    @classmethod
    def from_table(cls, spark: SparkSession, sf_dir: str, name: str) -> "KStream":
        from kafka_streams_clojure_spark.session import load_table

        return cls(load_table(spark, sf_dir, name))

    @classmethod
    def from_stream(cls, spark: SparkSession, sf_dir: str, name: str) -> "KStream":
        from kafka_streams_clojure_spark.streaming import stream_table

        return cls(stream_table(spark, sf_dir, name))

    # -- transduce (the reference's flagship entry point) -------------
    def transduce(self, *xforms: X.Xform) -> "KStream":
        """``transduce-kstream`` parity: install a composed transducer
        pipeline (api.clj:49-51)."""
        return KStream(X.transduce(self.df, *xforms))

    # -- stateless verbs ----------------------------------------------
    def filter(self, pred: Column) -> "KStream":
        return KStream(self.df.filter(pred))

    def filter_not(self, pred: Column) -> "KStream":
        return KStream(self.df.filter(~pred))

    def map(self, *cols, **named: Column) -> "KStream":
        return KStream(X.map_(*cols, **named)(self.df))

    def map_values(self, **named: Column) -> "KStream":
        return KStream(X.map_values(**named)(self.df))

    def select_key(self, key_expr: Column, key_col: str = "key") -> "KStream":
        return KStream(X.select_key(key_expr, key_col)(self.df))

    def flat_map(self, array_expr: Column, alias: str, *carry) -> "KStream":
        return KStream(X.flat_map(array_expr, alias, *carry)(self.df))

    def peek(self, name: str, *metrics: Column) -> "KStream":
        """`peek`/observe parity: attach named metrics without touching
        the data path (collected via QueryExecutionListener/observe)."""
        return KStream(self.df.observe(name, *metrics) if metrics else self.df)

    # -- fan-out / fan-in ---------------------------------------------
    def branch(self, *preds: Column) -> list["KStream"]:
        return [KStream(d) for d in X.branch(self.df, *preds)]

    def branch_map(self, pred_map: dict[str, Column]) -> dict[str, "KStream"]:
        return {k: KStream(d) for k, d in X.branch_map(self.df, pred_map).items()}

    def merge(self, *others: "KStream") -> "KStream":
        return KStream(X.merge(*[o.df for o in others])(self.df))

    # -- keyed state --------------------------------------------------
    def group_by(self, *cols):
        return self.df.groupBy(*cols)

    def join(
        self,
        other: "KStream",
        on,
        how: str = "inner",
        broadcast_other: bool = False,
        joiner=None,
    ) -> "KStream":
        """Equi/expr join; ``joiner`` is an optional ``value_joiner``
        combine step (api.clj:90-94) applied to the joined row."""
        right = F.broadcast(other.df) if broadcast_other else other.df
        joined = self.df.join(right, on, how)
        if joiner is not None:
            joined = joiner(joined)
        return KStream(joined)

    def asof_join(self, other: "KStream", **kwargs) -> "KStream":
        from kafka_streams_clojure_spark.operators.joins import asof_join

        return KStream(asof_join(self.df, other.df, **kwargs))

    def distinct(self, subset: Sequence[str] | None = None) -> "KStream":
        return KStream(X.distinct(subset)(self.df))

    # -- sinks --------------------------------------------------------
    def through(self, n_partitions: int, *cols: str) -> "KStream":
        from kafka_streams_clojure_spark.sources import through

        return KStream(through(self.df, n_partitions, *cols))

    def to_parquet(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).parquet(path)

    def to_df(self) -> DataFrame:
        return self.df
