"""Scan layer (SURVEY.md §2 B1).

The lake's canonical format is parquet (columnar, footer statistics →
Catalyst pushes filters and prunes columns for free).  CSV/JSON cover
the reference's untyped ``init/*`` landing drops
(``cft/sourceSystem.yaml:77``): sources deliver text files, the
engine ingests them with an explicit schema (never ``inferSchema`` at
scale — it is an extra full pass over 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

# Tables small enough to always broadcast in joins at ANY scale factor
# (dimension tables bounded by real-world cardinality, not data volume).
BROADCAST_TABLES = frozenset({"region", "nation"})


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """A frame with ``schema``, no rows and no partitions.
    ``createDataFrame([], schema)`` takes the pickled-RDD path, and the
    first action on it starts a Python worker to read an empty list."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to session-timezone
    TimestampType regardless of how this Spark build surfaced the
    parquet TIMESTAMP(NANOS) physical type:

    - older builds reject NANOS outright unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case
      ``ts`` arrives as raw int64 nanos → integer-DIV to µs (float
      division would lose low bits at 1.7e18 ns);
    - newer builds read NANOS natively as TIMESTAMP_NTZ truncated to
      µs (ignoring the legacy conf) → cast NTZ → TIMESTAMP, identity
      on the wall clock under the engine's UTC session timezone.

    Both land on exactly what DuckDB does when it coerces
    TIMESTAMP_NS → TIMESTAMP, so the engines see identical values."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); see normalize_event_ts
    for the version-adaptive µs truncation."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_event_ts(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables. Plain ``spark.read.parquet`` — Catalyst
    handles column pruning + predicate pushdown per-query, so eager
    caching here would only hurt (it materializes full width)."""
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the lake tables to ``spark.sql`` under their names."""
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Landing-format CSV ingest with explicit schema (no inference pass)."""
    return spark.read.csv(path, header=True, schema=schema)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """Landing-format JSON-lines ingest with explicit schema."""
    return spark.read.schema(schema).json(path)
