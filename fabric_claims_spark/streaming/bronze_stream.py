"""Streaming bronze: the same quality gate as pipeline/bronze.py fed
by a file-source stream (SURVEY.md §1.4, §7.5).

The reference's watermark loop is a hand-rolled file-arrival stream
(GetMetadata + IfCondition + Copy, PL_BRONZE:5-207); Structured
Streaming replaces the whole protocol — the checkpoint tracks which
files were processed (exactly-once bookkeeping), Trigger.AvailableNow
gives the same batch cadence, and foreachBatch applies the identical
split + MERGE per micro-batch (I5: late re-deliveries resolve by key).

Scale notes: maxFilesPerTrigger bounds micro-batch size; the split
inside foreachBatch is the same single-scan fan-out as batch bronze.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from fabric_claims_spark.pipeline.bronze import run_bronze_on_df
from fabric_claims_spark.schemas import CLAIMS_RAW_SCHEMA, CORRUPT_COL
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.streaming import drain


def run_bronze_streaming(
    spark: SparkSession,
    store: TableStore,
    landing_dir: str,
    checkpoint_dir: str,
    run_ts: datetime | None = None,
    max_files_per_trigger: int | None = None,
) -> list[dict[str, Any]]:
    """Process all currently-available files (Trigger.AvailableNow),
    one quality-gate pass per micro-batch; returns per-batch metrics."""
    reader = (
        spark.readStream.schema(CLAIMS_RAW_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.csv(landing_dir)

    batch_metrics: list[dict[str, Any]] = []

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        metrics = run_bronze_on_df(
            spark, store, batch_df, run_ts=run_ts, batch_id=f"stream-{batch_id}"
        )
        batch_metrics.append(metrics)

    drain(stream, checkpoint_dir, sink=process_batch)
    return batch_metrics
