"""Gold publish dataflow (PLclaims_gold.DataPipeline +
sp_upsert_claims.sql, SURVEY.md §3.1 gold stage).

The reference's warehouse stage is: recreate 4 staging views
(SELECT DISTINCT over silver tables, PL_GOLD:152-188), then a
set-based stored procedure performing per-table conditional upserts
(update only when a non-key column differs null-safely; insert when
the key is absent — sp_upsert_claims.sql:12-103), then an audit row.

Here each staging view is a DISTINCT projection and each upsert is a
TableStore MERGE with ``update_only_changed=True`` — the no-op-update
elimination comes from the merge condition, exactly like the SP's
``ISNULL(t.c,'')<>ISNULL(s.c,'')`` gates. ClaimAmount widens
decimal→double at this boundary (Claims.sql:7 float vs bronze
DecimalType(18,2), SURVEY.md §1.2).

Per-table inserted/updated counts are returned — parity with the
SP's @@ROWCOUNT result set (sp_upsert_claims.sql:105-113).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fabric_claims_spark.pipeline.silver import (
    DIM_DATES,
    DIM_PATIENTS,
    DIM_PROVIDERS,
    FACT_CLAIMS,
)
from fabric_claims_spark.sources.merge import TableStore

GOLD_TABLES = {
    "Providers": (DIM_PROVIDERS, ["ProviderID"]),
    "Patients": (DIM_PATIENTS, ["PatientID"]),
    "Dates": (DIM_DATES, ["DateID"]),
    "Claims": (FACT_CLAIMS, ["ClaimID"]),
}

# Audit stamps are silver-run metadata, not business attributes — the
# staging views exclude them so gold change detection only fires on
# real value drift (the SP compares business columns only,
# sp_upsert_claims.sql:19-20,43-46,83-91).
_AUDIT_COLS = ["CreatedDate", "ModifiedDate", "ProcessBatchID"]


def staging_view(silver_store: TableStore, silver_table: str) -> DataFrame:
    """SELECT DISTINCT staging views (WH_VIEWS/StagingClaims.sql:2-15
    and siblings)."""
    df = silver_store.read(silver_table)
    keep = [c for c in df.columns if c not in _AUDIT_COLS]
    df = df.select(*keep).distinct()
    if silver_table == FACT_CLAIMS:
        # decimal(18,2) → double widening at the gold boundary.
        df = df.withColumn("ClaimAmount", F.col("ClaimAmount").cast("double"))
    return df


def run_gold(
    spark: SparkSession,
    silver_store: TableStore,
    gold_store: TableStore,
) -> dict[str, Any]:
    """Upsert all four gold tables; returns per-table counts
    (sp_upsert_claims.sql:105-113 parity)."""
    results: dict[str, Any] = {}
    total_written = 0
    for gold_name, (silver_table, keys) in GOLD_TABLES.items():
        src = staging_view(silver_store, silver_table)
        stats = gold_store.merge(gold_name, src, keys=keys, update_only_changed=True)
        results[gold_name] = {"inserted": stats.inserted, "updated": stats.updated}
        total_written += stats.written
    results["rows_written"] = total_written
    return results
