"""The traced benchmark (perfbench/tracer.py) wraps public functions of
the engine by name. Installing its hooks in a fresh interpreter fails
the moment one of those functions is renamed or deleted, so the break
shows up here instead of in the next traced benchmark run."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INSTALL = """
import sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
from pyspark import SparkContext
from tracer import Tracer

Tracer("t").install()
assert SparkContext._active_spark_context is None, "install started Spark"
"""


def test_tracer_hooks_install_without_spark():
    proc = subprocess.run(
        [sys.executable, "-c", _INSTALL, os.path.join(ROOT, "perfbench"),
         ROOT],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]
