"""Run-audit table (S12 — Health.IngestionLogs,
WHclaims_gold.Warehouse/Health/Tables/IngestionLogs.sql:1-16; rows
inserted by the gold pipeline, PL_GOLD:139-149 and :254-264).

Append-only Delta/parquet table; the gold layer's watermark is
``max(FinishedAtUTC) where Layer='Gold' and Status='Succeeded'``
(PL_GOLD:74), so this table doubles as gold's state store.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from fabric_claims_spark.localframe import local_frame
from fabric_claims_spark.sources.merge import TableStore

AUDIT_TABLE = "ingestion_logs"

AUDIT_SCHEMA = StructType(
    [
        StructField("IngestionID", StringType()),
        StructField("PipelineName", StringType()),
        StructField("Layer", StringType()),
        StructField("TargetObject", StringType()),
        StructField("Status", StringType()),
        StructField("FinishedAtUTC", TimestampType()),
        StructField("WatermarkBefore", StringType()),
        StructField("WatermarkAfter", StringType()),
        StructField("RowsWritten", LongType()),
        StructField("ErrorMessage", StringType()),
        StructField("RunID", StringType()),
        StructField("BatchID", StringType()),
        StructField("TriggerType", StringType()),
    ]
)


def build_audit_row(
    pipeline: str,
    layer: str,
    status: str,
    rows_written: int = 0,
    wm_before: str | None = None,
    wm_after: str | None = None,
    target_object: str = "All",
    error: str | None = None,
    run_id: str | None = None,
    trigger_type: str = "Manual",
    finished_at: datetime | None = None,
) -> tuple:
    """One AUDIT_SCHEMA-shaped tuple — for callers that batch several
    decisions into ONE append (round 13: on the versioned-parquet
    fallback every append rewrites the audit table, so a maintenance
    pass writing ten decision rows one-by-one pays ten rewrites;
    batched, it pays one)."""
    return (
        str(uuid.uuid4()),
        pipeline,
        layer,
        target_object,
        status,
        finished_at or datetime.now(timezone.utc),
        wm_before,
        wm_after,
        rows_written,
        error,
        run_id or str(uuid.uuid4()),
        None,
        trigger_type,
    )


def append_audit_rows(
    spark: SparkSession, store: TableStore, rows: list[tuple]
) -> None:
    """Append a batch of ``build_audit_row`` tuples in ONE table
    write (one version on the parquet fallback, one transactional
    append on Delta)."""
    if not rows:
        return
    # a handful of local rows: one partition, one output file (the
    # default parallelizes len(rows) over every core — 32 near-empty
    # write tasks and as many files per append, measured in the
    # forget_documents profile)
    store.append(
        AUDIT_TABLE, local_frame(spark, rows, AUDIT_SCHEMA).coalesce(1)
    )


def append_audit_row(
    spark: SparkSession, store: TableStore, *args, **kwargs
) -> None:
    """Append the one row ``build_audit_row(*args, **kwargs)``. The
    engine calls ``append_audit_rows``; this name stays because
    ``perfbench/layers.py`` traces the audit layer through it."""
    append_audit_rows(spark, store, [build_audit_row(*args, **kwargs)])


def last_gold_success(spark: SparkSession, store: TableStore) -> str:
    """S6/A11 — the gold gate's stored watermark: the upstream (silver)
    watermark recorded by the last successful publish.

    The reference gates on COALESCE(MAX(FinishedAtUTC), epoch)
    (PL_GOLD:74), i.e. wall clock; we gate on the WatermarkAfter
    lineage value instead — same relation, immune to clock skew
    between the audit writer and the upstream watermark author.
    """
    from pyspark.sql import functions as F

    if not store.exists(AUDIT_TABLE):
        return "1970-01-01T00:00:00Z"
    row = (
        store.read(AUDIT_TABLE)
        .where((F.col("Layer") == "Gold") & (F.col("Status") == "Succeeded"))
        .agg(F.max("WatermarkAfter").alias("wm"))
        .first()
    )
    return row["wm"] or "1970-01-01T00:00:00Z"
