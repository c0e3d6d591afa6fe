"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
JSON lines of the form {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...} — the headline record first
(truncation-proof), then the full-suite record with every per-query
timing and "full_suite_total".

Each query executes to completion (count() action — results are
aggregates or bounded sets, so the action cost is the query cost, not
a driver transfer). A warmup query amortizes JVM/codegen startup out
of the measured numbers.

Full-suite honesty (VERDICT r8 item 2): the canary basket re-runs at
the END of the full-suite pass and is emitted as its own
``full_suite_drift`` record, so the suite total carries an in-band
drift basis for ITS OWN window (the headline canary runs much
earlier — r8's audit trail showed host load escalating mid-run, which
made the 631 s total undecomposable). Every record this script prints
is also persisted to ``BENCH_full_r{N}.json`` beside this file, so
the driver's tail-truncated capture stops eating the per-query dict.
Two records compare offline, drift-normalized by the canary basket:
``python tools/bench_compare.py OLD.json NEW.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from fabric_claims_spark.queries import load_all_queries  # noqa: E402
from fabric_claims_spark.session import get_spark  # noqa: E402
from tools.bench_compare import CANARY  # noqa: E402

def _current_round(here: str) -> int:
    """The round this run belongs to: SPARK_GRAFT_ROUND if set, else
    max(BENCH_r*.json)+1 — i.e. the driver has not yet written this
    round's capture. When the driver HAS already written BENCH_r{N}
    (a re-run inside the same round), the env override is the
    authoritative label; without it the inference points one past the
    recorded rounds."""
    import glob as _glob
    import re as _re

    n_round = os.environ.get("SPARK_GRAFT_ROUND")
    if n_round:
        return int(n_round)
    seen = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(seen) + 1 if seen else 1


def _full_record_path(here: str) -> str:
    """Non-clobbering path for this run's full-suite record. The
    canonical name is BENCH_full_r{N:02d}.json; if a record for this
    round already exists (an earlier run this round), suffix _run2,
    _run3, … instead of overwriting it."""
    n = _current_round(here)
    base = os.path.join(here, f"BENCH_full_r{n:02d}")
    if not os.path.exists(base + ".json"):
        return base + ".json"
    k = 2
    while os.path.exists(f"{base}_run{k}.json"):
        k += 1
    return f"{base}_run{k}.json"


HEADLINE = [
    "pricing_summary",
    "star_revenue_by_region_year",
    "dedup_latest_order_per_customer",
    "top3_orders_per_customer",
    "ytd_running_revenue",
    "yoy_monthly_revenue",
    "quality_split_buckets",
    "dq_reasons_orders",
    "events_hourly_tumbling",
    "state_latest_per_user",
    "docs_exact_dedup",
    "docs_jaccard_pairs",
    "embeddings_knn_bruteforce",
    "embeddings_ivf_assign",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    full = os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0"
    registry = load_all_queries()
    spark = get_spark("fabric-claims-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: run the flagship once to JIT/codegen-warm the session,
    # and touch every table once so the OS page cache is uniformly
    # warm — otherwise whichever text/embedding query runs FIRST
    # absorbs the container's cold-read jitter (~3-5 s at sf0.1) and
    # cross-round comparisons of that one query are noise.
    registry["pricing_summary"].fn(spark, sf_dir).count()
    for t in os.listdir(sf_dir):
        if t.endswith(".parquet"):
            # xxhash64 over all columns forces real byte reads (a bare
            # count() is answered from parquet metadata), JVM-side
            spark.read.parquet(os.path.join(sf_dir, t)).selectExpr(
                "count(xxhash64(struct(*)))"
            ).collect()

    # HEADLINE runs first and alone defines `value` — the metric the
    # driver baselines across rounds, so its membership never changes.
    # The rest of the registry is timed after it (skippable via
    # SPARK_GRAFT_BENCH_FULL=0) and reported alongside.
    timings: dict[str, float] = {}

    # every printed record also lands in BENCH_full_r{N}.json — the
    # truncation-proof audit copy (VERDICT r8 item 2)
    records: list[dict] = []

    def emit(rec: dict) -> None:
        records.append(rec)
        print(json.dumps(rec), flush=True)

    def run_one(name: str, into: dict[str, float] | None = None) -> None:
        t0 = time.time()
        registry[name].fn(spark, sf_dir).count()
        (timings if into is None else into)[name] = round(
            time.time() - t0, 3
        )
        # Several registered queries cache intermediates (scan
        # amortization inside one query); clear between queries so a
        # full-suite session doesn't accrete executor storage — each
        # query is measured cold-cache, as it would run alone.
        spark.catalog.clearCache()
        # clearCache only drops SQL-cached relations; localCheckpoint
        # blocks (clean_corpus labels, estimate-error pairs) persist
        # as plain RDD storage — release those too
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)

    for name in HEADLINE:
        run_one(name)
    total = round(sum(timings.values()), 3)

    # The headline record prints FIRST, as a complete self-contained
    # JSON line (per-query detail limited to the headline set), so a
    # tail-truncated capture still carries the round's metric; the
    # full per-query dict follows as its own JSON line.
    # The canary times ride along in-band (VERDICT r7 item 8): the
    # drift-normalization basis (tools/bench_compare.CANARY — queries
    # unchanged since round 1) is auditable from this JSON alone,
    # without reconstructing it from the per-query dict.
    canary = {
        "canary_queries": {n: timings[n] for n in CANARY if n in timings},
        "canary_total": round(
            sum(timings[n] for n in CANARY if n in timings), 3
        ),
    }
    emit(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in HEADLINE},
            **canary,
            "sf": sf,
        }
    )

    # Cadence guard (VERDICT r6 item 9): identical code benched
    # 11.32-12.82 s across solo runs this host — one sample per round
    # makes every cross-round delta an argument about noise. Run the
    # headline set N=3 times in-band and record per-run totals plus
    # the per-query MEDIANS as their own JSON line, so next round's
    # drift analysis reads medians, not single draws. `value` above
    # stays the first run for cross-round continuity with r1-r6.
    solo_runs: list[dict[str, float]] = [dict(timings)]
    for _ in range(2):
        rerun: dict[str, float] = {}
        for name in HEADLINE:
            run_one(name, rerun)
        solo_runs.append(rerun)
    run_totals = [round(sum(r.values()), 3) for r in solo_runs]

    def _median3(xs: list[float]) -> float:
        return sorted(xs)[1]

    emit(
        {
            "metric": "headline_solo_median",
            "value": _median3(run_totals),
            "unit": "sec",
            "runs": run_totals,
            "queries": {
                n: _median3([r[n] for r in solo_runs]) for n in HEADLINE
            },
            "canary_total": round(
                _median3(
                    [sum(r[n] for n in CANARY if n in r) for r in solo_runs]
                ),
                3,
            ),
            "sf": sf,
        }
    )

    if full:
        for name in registry:
            if name not in timings:
                run_one(name)
        emit(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "full_suite_total": round(sum(timings.values()), 3),
                **canary,
                "sf": sf,
            }
        )
        # End-of-suite canary window (VERDICT r8 item 2): the headline
        # canary above ran BEFORE the ~10-minute full-suite pass, so it
        # cannot witness host drift DURING the pass (r8: solo totals
        # [22.7, 23.8, 38.3] — load escalating mid-run). Re-run the
        # basket now and emit both windows side by side; the suite
        # total becomes decomposable into code vs host with numbers
        # from its own run.
        canary_end: dict[str, float] = {}
        for name in CANARY:
            run_one(name, canary_end)
        end_total = round(sum(canary_end.values()), 3)
        # This run IS the round's baseline-of-record iff it lands on
        # the canonical (non-_runK) filename — i.e. it is the round's
        # first full run (the builder's committed quiet window).
        _here = os.path.dirname(os.path.abspath(__file__))
        _is_baseline = not os.path.exists(
            os.path.join(
                _here, f"BENCH_full_r{_current_round(_here):02d}.json"
            )
        )
        emit(
            {
                "metric": "full_suite_drift",
                "baseline_of_record": _is_baseline,
                "canary_end_queries": canary_end,
                "canary_end_total": end_total,
                "canary_headline_total": canary["canary_total"],
                "within_run_drift": round(
                    end_total / canary["canary_total"], 3
                )
                if canary["canary_total"]
                else None,
                "full_suite_total": round(sum(timings.values()), 3),
                "n_queries": len(timings),
                "sf": sf,
            }
        )

    # The capture that records this run keeps the TAIL of the output,
    # so the compact headline record must also be the very LAST line —
    # printing it only first loses it whenever the full-suite record
    # above overflows the capture window.
    emit(
        {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in HEADLINE},
            **canary,
            "sf": sf,
        }
    )

    # Persist the complete record set beside this file: the driver's
    # BENCH_r{N}.json keeps only a head-truncated tail of stdout (r8
    # lost all but 14 of 248 per-query timings), so the audit copy is
    # written here and committed with the round. FULL runs only — a
    # headline-only run would leave a thin record that an offline
    # compare (tools/bench_compare.py OLD NEW) mistakes for a complete
    # one — and never clobbering: a second full run in the same round
    # gets a _runK suffix instead of overwriting the first.
    if full:
        try:
            here = os.path.dirname(os.path.abspath(__file__))
            out = _full_record_path(here)
            with open(out, "w") as f:
                for rec in records:
                    f.write(json.dumps(rec) + "\n")
        except Exception as e:  # persistence must never sink the bench
            print(
                json.dumps(
                    {"metric": "bench_persist", "error": str(e)[:200]}
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
