"""The session factory's driver JVM options reach the running JVM."""

from __future__ import annotations

from mrsboraetl_spark.session import DRIVER_JIT_FLAGS


def _vm_option(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"
        )
    )
    return bean.getVMOption(name).getValue()


def test_driver_jit_policy_reaches_the_jvm(spark):
    """Each tier-4 threshold get_spark sets is live in the driver JVM
    (getOrCreate on an already running JVM would silently drop driver
    options), and tiering runs up to C2: the C1-only policy is not
    used."""
    for name, value in DRIVER_JIT_FLAGS.items():
        assert _vm_option(spark, name) == value, name
    assert _vm_option(spark, "TieredStopAtLevel") == "4"
    assert _vm_option(spark, "CICompilerCount") == "4"
