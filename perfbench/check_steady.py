"""Steadiness self-check for the benchmark.

Runs each workload of BENCHMARK.json ``--runs`` times, each run with
another seed, and prints for every end-to-end metric its median and its
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. A
spread is compared with the metric's bound; ``setup_s`` is reported but
not held to it. With ``--trace`` every seed is also run traced, and the
tracing overhead (traced minus untraced cycle time) and the share of
the measured wall time the top-level spans cover are printed.

Run from the repository root:

    python3 perfbench/check_steady.py [--runs 10] [--first-seed 1]
                                      [--workload NAME ...] [--trace]

Exits 1 when a spread other than setup_s is above its bound, or a run
fails or reports an incorrect result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["info"] = json.loads(lines[0])
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        runs, traced = [], []
        for seed in seeds:
            out = run_once(bench, w, seed, 0)
            ok &= out["correct"] and out["failed"] == 0
            runs.append(out)
            print(f"# {w} seed {seed}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in out["metrics"].items()})
                + f" wall cycle {out['info']['figures']['wall.cycle_s']:.2f} s,"
                f" host steal {out['info']['host_steal_share']:.3f}", flush=True)
            if args.trace:
                t = run_once(bench, w, seed, 1)
                ok &= t["correct"]
                traced.append(t["metrics"])
        print(f"\n{w}: {args.runs} runs, seeds {seeds.start}..{seeds.stop - 1}")
        print(f"| metric | unit | median | spread | bound | within |")
        print(f"|---|---|---|---|---|---|")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            s = spread(vals)
            within = s <= m["bound"] or m["name"] == "setup_s"
            ok &= within
            print(f"| {m['name']} | {m['unit']} | {statistics.median(vals):.4f} | "
                  f"{s:.3f} | {m['bound']} | {'yes' if s <= m['bound'] else 'no'} |")
        # figures reported, not gated (see README.md)
        for k in ("op_cpu_p50_s", "wall.setup_s", "wall.cycle_s", "wall.op_p50_s",
                  "driver_rss_mb"):
            vals = [r["info"]["figures"][k] for r in runs]
            print(f"| {k} | | {statistics.median(vals):.4f} | {spread(vals):.3f} | — | — |")
        steal = [r["info"]["host_steal_share"] for r in runs]
        print(f"| host_steal_share | share | {statistics.median(steal):.3f} | "
              f"{min(steal):.3f}–{max(steal):.3f} | — | — |")
        if traced:
            cyc = statistics.median(r["info"]["figures"]["wall.cycle_s"] for r in runs)
            tcyc = statistics.median(t["wall.cycle_s"]["value"] for t in traced)
            cov = statistics.median(t["trace.span_coverage"]["value"] for t in traced)
            print(f"\ntracing overhead: {tcyc - cyc:+.3f} s per cycle "
                  f"({(tcyc - cyc) / cyc:+.1%}); span coverage {cov:.1%}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
