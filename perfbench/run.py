"""Benchmark of record for fabric_claims_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``WORKLOADS`` and perfbench/README.md) on
``local[<cores>]`` as a closed loop with one client, checks every
operation's result, and prints a readable summary followed, as the
last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken from spans around
each layer's entry points.

All inputs are generated from ``--seed`` into a scratch directory
inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# workload name -> its class in workloads.py
WORKLOADS = {
    "query_mix": "QueryMix",
    "serving_lifecycle": "ServingLifecycle",
    # runnable, but not a workload of BENCHMARK.json: one cold cycle
    # alone costs more than a driver run can spend (see README.md)
    "medallion": "Medallion",
}


def _host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def _peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _start_spark(work: str, trace: bool):
    from fabric_claims_spark.session import get_spark

    import spans

    # no hsperfdata file in /tmp from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        conf.update(spans.TRACE_CONF)
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=120)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import layers
    import workloads as wl
    from spans import Tracer

    t_start = time.perf_counter()
    work = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    for sub in ("local", "tmp", "derby"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    spark = None
    try:
        spark = _start_spark(work, trace)
        spark_s = time.perf_counter() - t_start
        pids = [os.getpid(), int(spark._jvm.ProcessHandle.current().pid())]
        tracer = Tracer(spark, enabled=trace)
        r = wl.Run(spark, tracer, work, seed, pids)
        r.setup["spark_s"] = spark_s
        if trace:
            layers.install(tracer)
        part = getattr(wl, WORKLOADS[workload])(r)
        part.setup()
        setup_wall = time.perf_counter() - t_start
        setup_cpu = r.cpu()  # both processes, since they started

        t0, st0 = time.time(), _host_steal()
        deadline = time.perf_counter() + seconds
        while True:
            tracer.cycle = len(r.cycles)
            c0, cpu0 = time.perf_counter(), r.cpu()
            part.cycle()
            r.cycles.append(time.perf_counter() - c0)
            r.cycles_cpu.append(r.cpu() - cpu0)
            if time.perf_counter() >= deadline or not part.more():
                break
        t1, st1 = time.time(), _host_steal()
        tracer.unwrap()
        rss = _peak_rss_mb(pids)
        tracer.resolve()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    named = {k: statistics.median(v) for k, v in r.named.items() if v}
    summary = {
        "setup_s": setup_cpu,
        "cycle_cpu_s": statistics.median(r.cycles_cpu),
    }
    # reported on every run and per-layer, not gated (see README.md)
    figures = {
        "op_cpu_p50_s": statistics.median(r.ops_cpu),
        "wall.setup_s": setup_wall,
        "wall.cycle_s": statistics.median(r.cycles),
        "wall.op_p50_s": statistics.median(r.ops),
        "driver_rss_mb": rss,
    }
    info = {
        "workload": workload, "seed": seed, "cycles": len(r.cycles), "ops": len(r.ops),
        "attempted": r.attempted, "failed": r.failed, "failures": r.failures[:10],
        "setup": dict(r.setup), "named": named, "figures": figures,
        "measured_wall_s": t1 - t0,
        # share of the whole machine's CPU time the hypervisor gave to
        # other guests while this run measured: wall times inflate with
        # it, CPU seconds do not
        "host_steal_share": (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
    }
    metrics = summary if not trace else layers.collect(
        tracer, r, workload, dict(named, **figures), t0, t1)
    spans = tracer.summary() if trace else {}
    if trace:
        info["span_coverage"] = tracer.coverage(t0, t1)
    return {"info": info, "summary": summary, "metrics": metrics, "spans": spans}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / "fabric_claims_spark" / "__init__.py").is_file():
        print(f"perfbench: no fabric_claims_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]

    import layers

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    info, metrics = out["info"], out["metrics"]
    print(json.dumps(info, sort_keys=True))
    if out["spans"]:
        print(json.dumps({"spans": out["spans"]}, sort_keys=True))
    units = layers.UNITS
    for k, v in sorted({**out["summary"], **info["figures"], **info["named"]}.items()):
        print(f"{k:<24} {v:14.4f} {units.get(k, '')}")
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
