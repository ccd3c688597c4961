"""The driver JVM options ``get_spark`` sets reach the JVM it launches,
also when the caller passes its own ``spark.driver.extraJavaOptions``
(as perfbench does)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tiered_stop_at_level(spark) -> tuple[str, str]:
    """``TieredStopAtLevel``'s value and origin, as HotSpot reports them."""
    jvm = spark._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    option = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class).getVMOption(
        "TieredStopAtLevel"
    )
    return option.getValue(), option.getOrigin().toString()


def test_suite_session_jvm_compiles_with_c1_only(spark):
    assert _tiered_stop_at_level(spark) == ("1", "VM_CREATION")


_WITH_EXTRA_OPTIONS = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from nycitibike_data_transform_spark.session import get_spark
from tests.test_session import _tiered_stop_at_level

spark = get_spark(
    "jvm-options", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions": "-Dspark_graft.probe=extra"},
)
jvm = spark._jvm
print(json.dumps({
    "tiered": list(_tiered_stop_at_level(spark)),
    "probe": jvm.java.lang.System.getProperty("spark_graft.probe"),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


def test_caller_extra_java_options_add_to_the_c1_posture():
    out = subprocess.run(
        [sys.executable, "-c", _WITH_EXTRA_OPTIONS, REPO_ROOT],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["tiered"] == ["1", "VM_CREATION"]
    assert got["probe"] == "extra"
    assert {"-XX:TieredStopAtLevel=1", "-Dspark_graft.probe=extra"} <= set(got["args"])
