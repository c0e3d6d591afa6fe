"""Master orchestration (PLclaims_master.DataPipeline — SURVEY.md
§3.1). The reference's three chained pipelines with watermark gates
collapse into one Python module in a single Spark application; the
only process boundaries left are driver↔executors and driver↔storage.

Flow per run (C1-C8):

  bronze: source-file mtime > bronze wm?  → quality gate → commit wm
  silver: bronze wm > silver wm?          → star schema  → commit wm
  gold:   silver wm > last gold success?  → upserts + 'Succeeded'
          audit row; otherwise a skip audit row (the reference logs
          'Failed' for the skip path, PL_GOLD:114-150 — preserved).

Retry policy parity: none (retry=0, PL_BRONZE:9-11); idempotent
MERGEs make manual re-runs safe.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession

from fabric_claims_spark.pipeline import watermark as wmgate
from fabric_claims_spark.pipeline.bronze import run_bronze
from fabric_claims_spark.pipeline.gold import run_gold
from fabric_claims_spark.pipeline.silver import run_silver
from fabric_claims_spark.sources.audit import append_audit_row, last_gold_success
from fabric_claims_spark.sources.merge import TableStore
from fabric_claims_spark.sources.state import WatermarkStore, file_modified_utc


class ClaimsRunner:
    """One lakehouse root with bronze/silver/gold stores + watermarks."""

    def __init__(self, spark: SparkSession, root: str, clock=None):
        self.spark = spark
        self.root = root
        kwargs = {"clock": clock} if clock else {}
        self.watermarks = WatermarkStore(os.path.join(root, "watermarks"), **kwargs)
        self.bronze = TableStore(spark, os.path.join(root, "bronze"))
        self.silver = TableStore(spark, os.path.join(root, "silver"))
        self.gold = TableStore(spark, os.path.join(root, "gold"))
        self._clock = clock or (lambda: datetime.now(timezone.utc))

    # -- layer runs ---------------------------------------------------------
    def run_bronze(self, csv_path: str) -> dict[str, Any]:
        gate = wmgate.evaluate_gate(
            self.watermarks, wmgate.BRONZE, file_modified_utc(csv_path)
        )
        if not gate.should_run:
            return {"status": "Skipped", "reason": "no new source data", **vars(gate)}
        run_ts = self._clock()
        result = run_bronze(self.spark, self.bronze, csv_path, run_ts=run_ts)
        # Ingest-lineage watermark: the IngestedAt stamp this bronze run
        # used — silver's incremental slice filters on it.
        self.watermarks.write("bronze_ingest", ts=run_ts)
        # Commit AFTER success (I3). The watermark records the upstream
        # version processed (source mtime), NOT wall clock — the
        # reference stamps now() (NB_BRONZE_WM:39-40), which silently
        # mis-gates under clock skew; version lineage cannot.
        self.watermarks.write(wmgate.BRONZE, ts=gate.upstream_ts)
        return result

    def run_silver(self, incremental: bool = False) -> dict[str, Any]:
        gate = wmgate.evaluate_gate(
            self.watermarks, wmgate.SILVER, self.watermarks.read(wmgate.BRONZE)
        )
        if not gate.should_run:
            return {"status": "Skipped", "reason": "bronze not newer", **vars(gate)}
        since = None
        if incremental:
            # Conform only rows bronze ingested after the last silver
            # pass (epoch on first run → full build).
            from datetime import datetime as _dt

            stored = self.watermarks.read("silver_ingest")
            since = _dt.strptime(stored, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=timezone.utc
            )
        result = run_silver(
            self.spark,
            self.bronze,
            self.silver,
            run_ts=self._clock(),
            incremental_since=since,
        )
        self.watermarks.write(wmgate.SILVER, ts=gate.upstream_ts)
        if incremental:
            self.watermarks.write(
                "silver_ingest", ts=self.watermarks.read("bronze_ingest")
            )
        return result

    def run_gold(self) -> dict[str, Any]:
        silver_wm = self.watermarks.read(wmgate.SILVER)
        gold_wm = last_gold_success(self.spark, self.gold)
        if not WatermarkStore.is_newer(silver_wm, gold_wm):
            # Skip path logs an audit row (reference logs 'Failed' as
            # its skip marker, PL_GOLD:114-150).
            append_audit_row(
                self.spark,
                self.gold,
                pipeline="claims_gold",
                layer="Gold",
                status="Failed",
                error="skipped: silver watermark not newer",
                wm_before=gold_wm,
                wm_after=gold_wm,
                finished_at=self._clock(),
            )
            return {"status": "Skipped", "reason": "silver not newer"}
        result = run_gold(self.spark, self.silver, self.gold)
        append_audit_row(
            self.spark,
            self.gold,
            pipeline="claims_gold",
            layer="Gold",
            status="Succeeded",
            rows_written=result["rows_written"],
            wm_before=gold_wm,
            wm_after=silver_wm,
            finished_at=self._clock(),
        )
        return result

    # -- master -------------------------------------------------------------
    def run_all(self, csv_path: str, incremental_silver: bool = False) -> dict[str, Any]:
        """PL_MASTER:4-101 — three sequential invokes, each waiting on
        the previous."""
        return {
            "bronze": self.run_bronze(csv_path),
            "silver": self.run_silver(incremental=incremental_silver),
            "gold": self.run_gold(),
        }


class IndexMaintenance:
    """Post-apply maintenance scheduler for the serving-index stores
    (round 13, VERDICT r12 item 2): the three cadenced policies the
    operators already expose — tombstone folds
    (``fold_*_deletes``), file-count compaction
    (``maybe_compact_index_table``), and the skew-triggered IVF
    rebuild (``maybe_rebuild_ivf_index``) — run as one audited
    post-apply hook instead of runbook prose. Every decision appends
    one audit row (counts and thresholds only, never ids — the
    ``forget_subject`` rule): what was read (tombstone count / file
    count / bucket skew), whether the policy fired or held, and the
    rows it moved.

    Scheduling contract: maintenance runs driver-sequentially after
    the apply path (exactly how ``ClaimsRunner`` sequences layers).
    The folds clear only their snapshotted tombstones, so a delete
    committed mid-fold survives to the next cadence rather than
    being resurrected (ADVICE r12) — but two CONCURRENT maintenance
    passes over one store remain out of contract, as for every
    TableStore writer.
    """

    def __init__(
        self,
        store: TableStore,
        fold_min_tombstones: int = 1,
        compact_file_threshold: int = 64,
        compact_n_files: int = 8,
        ivf_skew_threshold: float = 2.5,
        ivf_k: int | None = None,
        ivf_iters: int = 3,
        audit_pipeline: str = "index_maintenance",
        vacuum: bool = False,
    ):
        self.store = store
        self.fold_min_tombstones = fold_min_tombstones
        self.compact_file_threshold = compact_file_threshold
        self.compact_n_files = compact_n_files
        self.ivf_skew_threshold = ivf_skew_threshold
        self.ivf_k = ivf_k
        self.ivf_iters = ivf_iters
        self.audit_pipeline = audit_pipeline
        # orphan reclamation (vacuum_uncommitted) is O(table) count
        # work per table — orphans only exist after a crash between
        # append and commit, so it is opt-in rather than every-pass
        # (run it on restart-after-crash or a slow cadence)
        self.vacuum = vacuum

    def _audit(self, action: str, fired: bool, reading: str, rows: int) -> None:
        from fabric_claims_spark.sources.audit import build_audit_row

        # decisions accumulate and flush as ONE audit append at pass
        # end (round 13: on the parquet fallback every append rewrites
        # the audit table — ten per-decision appends dominated the
        # healthy-pass wall; batched, the pass pays one write).
        # Per-row timestamps keep decision order readable.
        self._pending_audit.append(
            build_audit_row(
                pipeline=self.audit_pipeline,
                layer="maintenance",
                status="Fired" if fired else "Held",
                rows_written=rows,
                target_object=f"{action}({reading})",
            )
        )

    def run_post_apply(self) -> dict[str, Any]:
        """One maintenance pass over every index family present in
        the store. Returns {decision_name: outcome} mirroring the
        audit rows (written as one batched append at pass end)."""
        from fabric_claims_spark.operators import serving_index as si
        from fabric_claims_spark.sources.audit import append_audit_rows

        self._pending_audit: list[tuple] = []
        try:
            return self._run_post_apply(si)
        finally:
            append_audit_rows(
                self.store.spark, self.store, self._pending_audit
            )
            self._pending_audit = []

    def _run_post_apply(self, si) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for fam in si.FAMILIES:
            # looked up on ``si`` at call time, so a wrapped module
            # attribute is what runs; IVF has no fold — its skew-fired
            # rebuild (below) is the physical erasure
            fold = getattr(si, f"fold_{fam.name}_deletes", None)
            if fold is None or not self.store.exists(fam.data[0][0]):
                continue
            n_tombs = si.read_tombstones(self.store, fam).count()
            fired = n_tombs >= self.fold_min_tombstones
            decision = out[f"fold:{fam.name}"] = {
                "fired": fired, "tombstones": n_tombs,
            }
            if fired:
                decision["rows_dropped"] = fold(
                    self.store, n_files=self.compact_n_files
                )
            self._audit(f"fold:{fam.name}", fired, f"tombstones={n_tombs}",
                        decision.get("rows_dropped", 0))

        for fam in si.FAMILIES:
            for table, _cols in fam.data:
                if not self.store.exists(table):
                    continue
                fc, compacted = si.maybe_compact_index_table(
                    self.store,
                    table,
                    fam.commits,
                    file_threshold=self.compact_file_threshold,
                    n_files=self.compact_n_files,
                )
                self._audit(f"compact:{table}", compacted, f"files={fc}",
                            fc if compacted else 0)
                out[f"compact:{table}"] = {"fired": compacted, "files": fc}

        if self.vacuum:
            # reclaim rows whose append token never committed (torn
            # apply). Tombstone and side tables ride the same commit
            # protocol, so they vacuum identically.
            for fam in si.FAMILIES:
                for table in si.family_tables(fam):
                    if not self.store.exists(table):
                        continue
                    reclaimed = si.vacuum_uncommitted(
                        self.store, table, fam.commits
                    )
                    self._audit(
                        f"vacuum:{table}", reclaimed > 0,
                        f"orphans={reclaimed}", reclaimed,
                    )
                    out[f"vacuum:{table}"] = {
                        "fired": reclaimed > 0, "rows_reclaimed": reclaimed,
                    }

        if self.store.exists(si.IVF_VECS):
            has_quantizer = si.stored_quantizer_size(self.store) > 0
            if not has_quantizer and self.ivf_k is None:
                # build-time quantizer is caller state; without it the
                # skew denominator is unknowable — held, visibly, not
                # a wedge (the caller wires ivf_k to enable the policy)
                self._audit("rebuild:ivf", False, "skew=unmeasured(no k)", 0)
                out["rebuild:ivf"] = {"fired": False, "skew": None}
            else:
                skew, cents = si.maybe_rebuild_ivf_index(
                    self.store,
                    skew_threshold=self.ivf_skew_threshold,
                    k=None if has_quantizer else self.ivf_k,
                    iters=self.ivf_iters,
                )
                self._audit(
                    "rebuild:ivf",
                    cents is not None,
                    f"skew={skew:.3f},threshold={self.ivf_skew_threshold}",
                    len(cents) if cents is not None else 0,
                )
                out["rebuild:ivf"] = {"fired": cents is not None, "skew": skew}
        return out
