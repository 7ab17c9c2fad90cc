"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps
engine functions by name (``perfbench/tracing.instrument``) and reads
some of their positional arguments and results. A rename or a
reordered signature would only fail inside that run; this test fails
here instead. It runs in a subprocess so the wrappers never touch the
test session's modules."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import inspect
import sys

sys.path.insert(0, "perfbench")
from datafusion_rdbms_ext_spark.queries import REGISTRY  # noqa: F401
from datafusion_rdbms_ext_spark.sources import sinks
import tracing

tracing.instrument(tracing.Tracer())
for name in ("branch_commit", "wap_attempt", "cherry_pick", "vacuum",
             "zonemap_prune", "composed_skip_files"):
    assert hasattr(getattr(sinks, name), "__wrapped__"), name
# the counters read zonemap_prune's args[0] and composed_skip_files'
# args[2] as the manifest
for name, pos in (("zonemap_prune", 0), ("composed_skip_files", 2)):
    params = list(inspect.signature(getattr(sinks, name)).parameters)
    assert params[pos] == "manifest", (name, params)
print("instrumented")
"""


def test_bench_tracing_instruments_the_engine():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("instrumented")
