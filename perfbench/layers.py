"""The engine layers the traced run spans, and the per-layer metrics
derived from those spans.

``install`` wraps each layer's public entry points (see the per-layer
table in README.md); ``collect`` turns the recorded spans into the
per-layer metrics. A metric's value is its total over one measured
cycle, as the median over the run's measured cycles; a layer that a
workload never calls reads 0 there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

S6 = ("wall_s", "jobs", "tasks", "executor_cpu_s", "shuffle_bytes", "driver_gap_s")
STAT_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s", "shuffle_bytes": "B", "driver_gap_s": "s", "calls": "count",
}

SI = "operators.serving_index"
FAMILIES = ("lexical", "positional", "lsh", "ivf")
READERS = {
    "read_lexical_index": "read_lexical",
    "read_positional_index": "read_positional",
    "read_lsh_pairs": "read_lsh",
    "read_ivf_index": "read_ivf",
}
MAINTENANCE = (
    "fold_lexical_deletes", "fold_positional_deletes", "fold_lsh_deletes",
    "maybe_compact_index_table", "maybe_rebuild_ivf_index",
)
STORE_WRITES = ("merge", "append", "overwrite", "delete", "compact")
STORE_READS = ("read", "count_rows", "exists", "prune_files_by_value")

BASKET_NAMES = [
    "pricing_summary", "star_revenue_by_region_year", "dedup_latest_order_per_customer",
    "top3_orders_per_customer", "ytd_running_revenue", "yoy_monthly_revenue",
    "quality_split_buckets", "dq_reasons_orders", "events_hourly_tumbling",
    "state_latest_per_user", "docs_exact_dedup", "docs_jaccard_pairs",
    "embeddings_knn_bruteforce", "embeddings_ivf_assign",
]

# span name -> stats reported for it
SPAN_STATS: dict[str, tuple[str, ...]] = {
    "sources.merge.write": ("calls", "wall_s", "jobs"),
    "sources.merge.read": ("calls", "wall_s"),
    "sources.audit": ("calls", "wall_s"),
    **{f"{SI}.apply_{f}_batch": ("wall_s", "jobs", "driver_gap_s") for f in FAMILIES},
    **{f"{SI}.{n}": ("wall_s", "jobs") for n in READERS.values()},
    "plans.governance.forget_documents": S6,
    "pipeline.runner.IndexMaintenance": ("wall_s", "jobs", "driver_gap_s"),
    **{f"{SI}.{n}": ("wall_s", "jobs") for n in MAINTENANCE},
    **{f"queries.{q}": ("wall_s", "jobs") for q in BASKET_NAMES},
}
# metrics that are not per-span stats: name -> unit
OTHER_UNITS = {
    f"{SI}.applied_ratio": "ratio",
    "pipeline.runner.IndexMaintenance.fired_ratio": "ratio",
    "queries.driver_gap_s": "s",
    "queries.executor_cpu_s": "s",
    "setup.spark_s": "s",
    "setup.generate_s": "s",
    "setup.oracle_s": "s",
    "setup.warmup_s": "s",
    "ops.attempted": "count",
    "ops.failed": "count",
    "ops_failed_share": "share",
    "apply_s": "s",
    "serve_p50_s": "s",
    "erase_s": "s",
    "maintain_s": "s",
    "index_bytes_ratio": "B/B",
    "op_cpu_p50_s": "s",
    "wall.setup_s": "s",
    "wall.cycle_s": "s",
    "wall.op_p50_s": "s",
    "driver_rss_mb": "MB",
    "trace.span_coverage": "share",
}
# the medallion workload (runnable, not in BENCHMARK.json) adds these
MEDALLION_SPANS = {
    f"pipeline.{layer}.{phase}": S6
    for layer in ("bronze", "silver", "gold") for phase in ("full", "incr")
}
MEDALLION_UNITS = {
    "sources.merge.rows_changed_ratio": "ratio",
    "medallion_full_s": "s",
    "medallion_incr_s": "s",
    "lake_bytes_ratio": "B/B",
}

E2E_UNITS = {"setup_s": "s", "cycle_cpu_s": "s"}


def per_layer_units(workload: str) -> dict[str, str]:
    spans = dict(SPAN_STATS, **(MEDALLION_SPANS if workload == "medallion" else {}))
    units = {f"{n}.{s}": STAT_UNITS[s] for n, stats in spans.items() for s in stats}
    units.update(OTHER_UNITS)
    if workload == "medallion":
        units.update(MEDALLION_UNITS)
    return units


UNITS = {**E2E_UNITS, **per_layer_units("medallion")}


def install(tracer) -> None:
    """Wrap every traced entry point (benchmark-side; the engine is
    not edited)."""
    from fabric_claims_spark.operators import serving_index as si
    from fabric_claims_spark.pipeline.runner import IndexMaintenance
    from fabric_claims_spark.plans import governance
    from fabric_claims_spark.sources import audit
    from fabric_claims_spark.sources.merge import TableStore

    def merge_rows(sp, args, kwargs, stats):
        source = args[2] if len(args) > 2 else kwargs["source"]
        sp.counts["written"] = stats.written
        sp.counts["source_rows"] = source.count()

    for m in STORE_WRITES:
        tracer.wrap(TableStore, m, "sources.merge.write", inside="sources.merge",
                    after=merge_rows if m == "merge" else None)
    for m in STORE_READS:
        tracer.wrap(TableStore, m, "sources.merge.read", inside="sources.merge")
    for f in ("append_audit_row", "append_audit_rows"):
        tracer.wrap(audit, f, "sources.audit")

    def applied(sp, args, kwargs, result):
        sp.counts["applied"] = float(bool(result))

    for fam in FAMILIES:
        tracer.wrap(si, f"apply_{fam}_batch", f"{SI}.apply_{fam}_batch", after=applied)
    for fn, short in READERS.items():
        tracer.wrap(si, fn, f"{SI}.{short}")
    for fn in MAINTENANCE:
        tracer.wrap(si, fn, f"{SI}.{fn}")
    tracer.wrap(governance, "forget_documents", "plans.governance.forget_documents")

    def fired(sp, args, kwargs, out):
        sp.counts["decisions"] = len(out)
        sp.counts["fired"] = sum(1 for d in out.values() if d.get("fired"))

    tracer.wrap(IndexMaintenance, "run_post_apply", "pipeline.runner.IndexMaintenance",
                after=fired)


def _median_per_cycle(per_cycle: dict[int, float], n_cycles: int) -> float:
    return statistics.median([per_cycle.get(c, 0.0) for c in range(n_cycles)])


def collect(tracer, run, workload: str, named: dict[str, float], t0: float, t1: float) -> dict:
    """The per-layer metrics of one traced run."""
    n = max(1, len(run.cycles))
    units = per_layer_units(workload)
    totals: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sp in tracer.measured():
        for stat in ("wall_s", "jobs", "tasks", "executor_cpu_s", "shuffle_bytes", "driver_gap_s"):
            totals[f"{sp.name}.{stat}"][sp.cycle] += getattr(sp, stat)
        totals[f"{sp.name}.calls"][sp.cycle] += 1
        for k, v in sp.counts.items():
            counts[sp.name][k] += v
        if sp.name.startswith("queries."):
            totals["queries.driver_gap_s"][sp.cycle] += sp.driver_gap_s
            totals["queries.executor_cpu_s"][sp.cycle] += sp.executor_cpu_s

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    out = {}
    for name in units:
        if name in totals:
            out[name] = _median_per_cycle(totals[name], n)
        else:
            out[name] = 0.0
    applies = [counts[f"{SI}.apply_{f}_batch"] for f in FAMILIES]
    maint = counts["pipeline.runner.IndexMaintenance"]
    merges = counts["sources.merge.write"]
    applied_calls = sum(sum(totals[f"{SI}.apply_{f}_batch.calls"].values()) for f in FAMILIES)
    out.update({
        f"{SI}.applied_ratio": ratio(sum(a["applied"] for a in applies), applied_calls),
        "pipeline.runner.IndexMaintenance.fired_ratio": ratio(maint["fired"], maint["decisions"]),
        "setup.spark_s": run.setup.get("spark_s", 0.0),
        "setup.generate_s": run.setup.get("generate_s", 0.0),
        "setup.oracle_s": run.setup.get("oracle_s", 0.0),
        "setup.warmup_s": run.setup.get("warmup_s", 0.0),
        "ops.attempted": float(run.attempted),
        "ops.failed": float(run.failed),
        "ops_failed_share": ratio(run.failed, run.attempted),
        "trace.span_coverage": tracer.coverage(t0, t1),
    })
    if workload == "medallion":
        out["sources.merge.rows_changed_ratio"] = ratio(merges["written"], merges["source_rows"])
    for k in ("apply_s", "serve_p50_s", "erase_s", "maintain_s", "index_bytes_ratio",
              "medallion_full_s", "medallion_incr_s", "lake_bytes_ratio",
              "op_cpu_p50_s", "wall.setup_s", "wall.cycle_s", "wall.op_p50_s",
              "driver_rss_mb"):
        if k in units:
            out[k] = named.get(k, 0.0)
    return {k: out[k] for k in units}
