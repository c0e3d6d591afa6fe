"""SparkSession factory with scale-oriented defaults.

The reference runs on a managed Fabric runtime and sets no Spark conf
itself; we centralize the conf the engine relies on so local tests and
a real cluster behave the same. Key choices:

* UTC session timezone — the reference mixes ET run timestamps with
  UTC watermarks (NBclaims_bronze.Notebook/notebook-content.py:47 vs
  NBclaims_bronze_watermark.Notebook/notebook-content.py:40); we pin
  UTC and convert explicitly at the edges.
* AQE on (coalesce partitions + skew-join handling) so the same plan
  survives 100x scale changes without manual re-tuning.
* Shuffle partitions default to the local core count; on a cluster set
  ``spark.sql.shuffle.partitions`` to ~2-3x total cores via
  ``extra_conf`` (AQE coalesces the excess).
* A JIT budget for local mode — there the executors are threads of
  the driver JVM, and HotSpot's C2 compiler threads burned more CPU
  than the executor tasks (a JFR recording of one serving cycle: 34–38
  CPU s of C2 against 14–15 s of tasks). The tier-4 (C2) thresholds
  are raised 4x over the JDK 17 defaults, so C2 skips lukewarm Spark,
  Janino and serialization code while hot loops still reach it. Spark
  prepends ``spark.driver.defaultJavaOptions`` to a caller's
  ``spark.driver.extraJavaOptions``, so both apply; a caller's own
  ``defaultJavaOptions`` in ``extra_conf`` replaces the policy. A
  session on a cluster master gets none of it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas (extensions hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep timestamp semantics stable across engines.
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # Don't let tiny local files fan out into thousands of tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}

# 4x the JDK 17 tier-4 defaults (5000 / 600 / 15000 / 40000); local
# mode only, see the module docstring.
LOCAL_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 "
    "-XX:Tier4MinInvocationThreshold=2400 "
    "-XX:Tier4CompileThreshold=60000 "
    "-XX:Tier4BackEdgeThreshold=160000"
)


def get_spark(
    app_name: str = "fabric-claims-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster pass ``None`` with a pre-configured environment and the
    builder inherits it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # local mode: driver == executors; the 1g default heap GC-
        # thrashes on wide windows/caches. Only applies at JVM launch
        # (ignored if a session already exists).
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "8g")
        ).config("spark.driver.defaultJavaOptions", LOCAL_JIT_OPTIONS)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or int(cpus))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
