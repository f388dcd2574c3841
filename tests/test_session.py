"""The session factory's driver JVM options reach the running JVM, the
test tree holds no side scripts beside the suite, and the incremental
plans materialize through one pin rule."""

from __future__ import annotations

import ast
import os

from mrsboraetl_spark.session import DRIVER_JIT_FLAGS

# The only non-test modules under tests/: shared fixtures, the oracle
# gate, the registry smoke and the bench re-measure guard demo.
_HELPERS = {
    "conftest.py",
    "fixtures.py",
    "oracle_check.py",
    "registry_sweep.py",
    "bench_guard_demo.py",
}


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


def test_tests_tree_holds_only_pytest_modules_and_named_helpers():
    """A measurement script dropped beside the suite is run by nothing
    and rots as the engine moves under it."""
    here = os.path.dirname(os.path.abspath(__file__))
    stray = sorted(
        f for f in os.listdir(here)
        if f.endswith(".py")
        and not f.startswith("test_")
        and f not in _HELPERS
    )
    assert not stray, (
        f"{stray}: new measurement goes into perfbench/run.py or a "
        "pinned test, not a script under tests/"
    )


def test_plans_materialize_only_through_probe_pin():
    """The incremental plans pin through one rule (plans/_probe.pin):
    no other function under plans/ calls localCheckpoint, and no plan
    tests ``"recomputed" in out`` to reuse a pin by hand."""
    plans = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mrsboraetl_spark", "plans",
    )
    checkpoints: list[str] = []
    reuses: list[str] = []

    class Scan(ast.NodeVisitor):
        def __init__(self, module):
            self.scope = [module]

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Attribute(self, node):
            if node.attr == "localCheckpoint":
                checkpoints.append(".".join(self.scope))
            self.generic_visit(node)

        def visit_Compare(self, node):
            if (
                isinstance(node.left, ast.Constant)
                and node.left.value == "recomputed"
                and any(isinstance(op, ast.In) for op in node.ops)
            ):
                reuses.append(".".join(self.scope))
            self.generic_visit(node)

    for f in sorted(os.listdir(plans)):
        if f.endswith(".py"):
            with open(os.path.join(plans, f)) as fh:
                Scan(f[:-3]).visit(ast.parse(fh.read()))
    assert checkpoints == ["_probe.pin"], checkpoints
    assert not reuses, reuses
