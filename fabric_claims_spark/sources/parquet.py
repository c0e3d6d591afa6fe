"""Parquet table access for the driver-provided test data.

Thin helpers so queries stay declarative: ``spark.read.parquet`` gives
Catalyst the scan node, and filter/column pushdown happens for free as
long as callers filter/select on the returned DataFrame (verify with
``df.explain`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to TimestampType regardless
    of how the parquet writer encoded it. The driver has shipped both
    TIMESTAMP(NANOS) (read as raw int64 via the legacy nanosAsLong conf,
    converted ns→µs with exact integer division) and plain timestamp[us]
    (read as TIMESTAMP_NTZ, cast under the UTC session timezone — a
    value-preserving relabel). Branching on the observed dtype keeps
    every downstream query identical across driver data generations.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table (parity with Delta scan-by-path, S2:
    NBclaims_silver.Notebook/notebook-content.py:64-75).

    events.ts arrives in whatever physical type the data generator
    used (see normalize_events_ts); surface it uniformly as
    TimestampType. DuckDB reads the same file natively, so queries
    compare at ≥ second grain either way.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)
