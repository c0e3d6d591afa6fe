"""The local-mode JIT policy of ``get_spark``.

Spark launches the driver JVM with ``-XX:+IgnoreUnrecognizedVMOptions``,
so a misspelled flag would be dropped without a word: the test reads
the values back from the running JVM instead of trusting the conf."""

import json
import os
import subprocess
import sys
from pathlib import Path

from fabric_claims_spark import session

ROOT = Path(__file__).resolve().parents[1]

# 4x the JDK 17 defaults of 5000 / 600 / 15000 / 40000
WANT = {
    "Tier4InvocationThreshold": "20000",
    "Tier4MinInvocationThreshold": "2400",
    "Tier4CompileThreshold": "60000",
    "Tier4BackEdgeThreshold": "160000",
}

_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from fabric_claims_spark.session import get_spark
spark = get_spark(
    "jit-probe",
    extra_conf={"spark.driver.extraJavaOptions": "-Dfcs.jit.probe=caller"},
)
jvm = spark._jvm
mx = jvm.java.lang.management.ManagementFactory
hs = mx.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
print(json.dumps({
    "options": {k: hs.getVMOption(k).getValue() for k in sys.argv[2:]},
    "probe": jvm.java.lang.System.getProperty("fcs.jit.probe"),
    "args": list(mx.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


def test_local_session_runs_the_jit_policy_with_callers_options():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(ROOT), *WANT],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["options"] == WANT
    # the caller's extraJavaOptions still reach the JVM beside the policy
    assert got["probe"] == "caller"
    assert "-Dfcs.jit.probe=caller" in got["args"]


class _Builder:
    """Records what ``get_spark`` configures instead of starting Spark."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch, master=None, spark_master=None, extra_conf=None):
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    if spark_master:
        monkeypatch.setenv("SPARK_MASTER", spark_master)
    else:
        monkeypatch.delenv("SPARK_MASTER", raising=False)
    return session.get_spark(master=master, extra_conf=extra_conf)


def test_jit_policy_only_in_sessions_started_in_local_mode(monkeypatch):
    local = _conf(monkeypatch)
    assert local["master"].startswith("local[")
    assert local["spark.driver.defaultJavaOptions"].split() == [
        f"-XX:{k}={v}" for k, v in WANT.items()
    ]
    for conf in (
        _conf(monkeypatch, master="spark://head:7077"),
        _conf(monkeypatch, spark_master="yarn"),
    ):
        assert "spark.driver.defaultJavaOptions" not in conf
        assert "spark.driver.memory" not in conf


def test_callers_default_java_options_replace_the_policy(monkeypatch):
    conf = _conf(
        monkeypatch,
        extra_conf={"spark.driver.defaultJavaOptions": "-XX:+UseSerialGC"},
    )
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:+UseSerialGC"
