"""Host-drift-normalized bench comparison.

Raw BENCH_r{N}.json totals are not comparable across rounds: the same
commit has measured 12.0 s and 17.6 s on this host under different
contention (NOTES_r05.md calibration). This tool divides per-query
times by a CANARY — the median ratio of a set of queries whose code
has not changed since round 1 — so what remains is the code's own
change, not the machine's.

Usage: python tools/bench_compare.py OLD.json NEW.json
Exits 1 if any shared query regressed more than 1.5x normalized.
"""

from __future__ import annotations

import json
import statistics
import sys

# unchanged-since-r1 queries = the host-speed canary set
CANARY = [
    "pricing_summary",
    "star_revenue_by_region_year",
    "dedup_latest_order_per_customer",
    "quality_split_buckets",
    "events_hourly_tumbling",
]


def load(path: str) -> dict[str, float]:
    """Accepts raw bench.py output, a driver BENCH_r{N}.json wrapper
    ({"tail": truncated-output, "parsed": ...}), or any text holding
    "name": seconds pairs — the tail is usually a beheaded JSON, so
    the fallback is a regex harvest of the per-query pairs."""
    import re

    with open(path) as f:
        text = f.read()

    def harvest(d) -> dict[str, float] | None:
        if isinstance(d.get("queries"), dict):
            return d["queries"]
        if isinstance(d.get("parsed"), dict) and isinstance(
            d["parsed"].get("queries"), dict
        ):
            return d["parsed"]["queries"]
        if isinstance(d.get("tail"), str):
            pairs = re.findall(
                r'"([a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', d["tail"]
            )
            return {
                k: float(v)
                for k, v in pairs
                if k not in ("value", "sf", "full_suite_total")
            }
        return None

    best = None
    try:  # whole file = one (pretty-printed) JSON document
        doc = json.loads(text)
        if isinstance(doc, dict):
            best = harvest(doc)
    except json.JSONDecodeError:
        pass
    if not best:  # JSON-lines output: keep the RICHEST record (the
        # full-suite dict, not the 14-query headline reprint)
        for line in text.splitlines():
            line = line.strip()
            if line.startswith("{"):
                try:
                    doc = json.loads(line)
                except json.JSONDecodeError:
                    continue
                got = harvest(doc) if isinstance(doc, dict) else None
                if got and (best is None or len(got) > len(best)):
                    best = got
    if not best:
        raise SystemExit(f"no bench record found in {path}")
    return {k: float(v) for k, v in best.items()}


def main() -> int:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__.strip().splitlines()[-2].strip())
    old, new = load(sys.argv[1]), load(sys.argv[2])
    ratios = [
        new[q] / old[q] for q in CANARY if q in old and q in new and old[q] > 0
    ]
    label = "canary"
    if not ratios:
        # driver tails are head-truncated, so the early-running canary
        # set may be absent; the median over ALL shared queries is the
        # robust fallback (a code change moves few queries, the host
        # moves all of them)
        ratios = [
            new[q] / old[q]
            for q in set(old) & set(new)
            if old[q] > 0.05  # sub-50ms timings are noise-dominated
        ]
        label = "all-shared median"
    if not ratios:
        raise SystemExit("no overlap between the two runs")
    host = statistics.median(ratios)
    print(f"host drift ({label} new/old): {host:.3f}x")
    shared = sorted(set(old) & set(new))
    worst: list[tuple[float, str]] = []
    for q in shared:
        if old[q] <= 0:
            continue
        norm = (new[q] / old[q]) / host
        worst.append((norm, q))
    worst.sort(reverse=True)
    print(f"{len(shared)} shared queries; top normalized changes:")
    for norm, q in worst[:10]:
        print(f"  {norm:5.2f}x  {q}  ({old[q]:.2f}s -> {new[q]:.2f}s raw)")
    regressions = [(n, q) for n, q in worst if n > 1.5]
    if regressions:
        print(f"REGRESSIONS (>1.5x normalized): {regressions}")
        return 1
    print("no normalized regression beyond 1.5x")
    return 0


if __name__ == "__main__":
    sys.exit(main())

