"""The driver JVM options ``get_spark`` sets reach the JVM it launches,
also when the caller passes its own ``spark.driver.extraJavaOptions``
(as perfbench does), and the default driver heap fits the machine."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from nycitibike_data_transform_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _vm_option(spark, name: str) -> tuple[str, str]:
    """VM option ``name``'s value and origin, as HotSpot reports them."""
    jvm = spark._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    option = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class).getVMOption(
        name
    )
    return option.getValue(), option.getOrigin().toString()


def test_suite_session_jvm_compiles_with_c1_only(spark):
    assert _vm_option(spark, "TieredStopAtLevel") == ("1", "VM_CREATION")


def test_suite_session_jvm_collects_with_serial_gc(spark):
    assert _vm_option(spark, "UseSerialGC") == ("true", "VM_CREATION")


_WITH_EXTRA_OPTIONS = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from nycitibike_data_transform_spark.session import get_spark
from tests.test_session import _vm_option

spark = get_spark(
    "jvm-options", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions": "-Dspark_graft.probe=extra"},
)
jvm = spark._jvm
print(json.dumps({
    "tiered": list(_vm_option(spark, "TieredStopAtLevel")),
    "serial_gc": list(_vm_option(spark, "UseSerialGC")),
    "probe": jvm.java.lang.System.getProperty("spark_graft.probe"),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


def test_caller_extra_java_options_add_to_the_c1_and_serial_gc_options():
    out = subprocess.run(
        [sys.executable, "-c", _WITH_EXTRA_OPTIONS, REPO_ROOT],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["tiered"] == ["1", "VM_CREATION"]
    assert got["serial_gc"] == ["true", "VM_CREATION"]
    assert got["probe"] == "extra"
    assert {"-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", "-Dspark_graft.probe=extra"} <= set(
        got["args"]
    )


def test_default_driver_memory_never_exceeds_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)
    got = session.default_driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) <= min(ram_mb, 48 * 1024)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session.default_driver_memory() == "1g"
