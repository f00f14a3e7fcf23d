"""``build_session``'s pinned JVM policy and its derived defaults."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from riptide_spark.session import local_cores

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_jvm_runs_the_jit_policy(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert "-XX:CICompilerCount=2" in list(mf.getRuntimeMXBean().getInputArguments())


def test_caller_java_options_are_kept_beside_the_policy(tmp_path):
    """A caller's ``spark.driver.extraJavaOptions`` reaches the JVM together
    with the policy, after it (so a later flag of the caller's wins). With
    no ``shuffle_partitions``, ``local[1]`` gets one shuffle partition."""
    script = (
        "import json\n"
        "from riptide_spark.session import build_session\n"
        "spark = build_session('riptide-session-test', master='local[1]',\n"
        "    extra_conf={'spark.driver.extraJavaOptions': '-Driptide.probe=1'})\n"
        "m = spark.sparkContext._jvm.java.lang.management.ManagementFactory\n"
        "print(json.dumps([list(m.getRuntimeMXBean().getInputArguments()),\n"
        "    spark.conf.get('spark.sql.shuffle.partitions')]))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    args, partitions = json.loads(proc.stdout.strip().splitlines()[-1])
    assert partitions == "1"
    assert "-XX:CICompilerCount=2" in args
    assert "-Driptide.probe=1" in args
    assert args.index("-XX:CICompilerCount=2") < args.index("-Driptide.probe=1")


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[1]", 1),
        ("local[4]", 4),
        ("local[16]", 16),
        ("local[4, 3]", 4),
        ("local[*]", os.cpu_count()),
        ("local[*,2]", os.cpu_count()),
        ("spark://host:7077", None),
        ("yarn", None),
        ("local-cluster[2,1,1024]", None),
    ],
)
def test_shuffle_partitions_follow_the_local_master(master, cores):
    assert local_cores(master) == cores
