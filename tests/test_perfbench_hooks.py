"""The benchmark's traced pass patches the layer calls run_pipeline makes
by module and name (perfbench/workloads.py::TRACED_CALLS) with
mock.patch.multiple, which raises on a missing attribute. Rewiring a call
site without keeping its name would break `perfbench/run.py --trace 1`
only when the benchmark runs; this Spark-free check fails first."""

import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def test_traced_calls_resolve():
    sys.path.insert(0, str(PERFBENCH))
    try:
        import workloads
    finally:
        sys.path.remove(str(PERFBENCH))

    assert workloads.TRACED_CALLS
    for module, spans in workloads.TRACED_CALLS.items():
        for name in spans:
            assert callable(getattr(module, name, None)), (
                f"{module.__name__}.{name} is patched by the benchmark"
            )
