"""SQL entry point: register the fixture tables as temp views and run
analytics with ``spark.sql`` — the declarative twin of the combinator
API (same Catalyst plans either way).

This is the surface a reference user gets "for free" by moving to the
engine: full ANSI SQL over the same tables the operator API sees.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_clojure_spark.session import TABLES, load_table

#: A fixture table name standing as a whole word in SQL text.
_TABLE_WORD = re.compile(r"\b(" + "|".join(TABLES) + r")\b", re.IGNORECASE)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Create/replace one temp view per fixture table (idempotent)."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run SQL against the fixture views, registering first only the
    fixture tables whose names appear as a word in ``query``.

    A table the statement reads always appears as a word, so none is
    missed; a word that only looks like one (a CTE or alias named
    ``orders``) registers a harmless extra view. The views come from
    :func:`load_table`, which is memoized per session: the parquet
    listing and schema inference run once per session and path, and a
    path whose stat fingerprint changes is read afresh."""
    named = {m.lower() for m in _TABLE_WORD.findall(query)}
    register_views(spark, sf_dir, tuple(t for t in TABLES if t in named))
    return spark.sql(query)
