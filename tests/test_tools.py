"""Every script under tools/ stays importable: a fold that leaves a
dangling import fails here, not when someone next runs the script."""

import os
import subprocess
import sys

TOOLS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")

_IMPORT_ALL = """
import glob, importlib.util, os, sys
paths = sorted(glob.glob(os.path.join(sys.argv[1], "*.py")))
for path in paths:
    name = "_tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
from pyspark import SparkContext
assert SparkContext._gateway is None, "importing a tool started Spark"
print(len(paths))
"""


def test_every_tool_imports_without_starting_spark():
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, TOOLS],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) == len(
        [f for f in os.listdir(TOOLS) if f.endswith(".py")]
    )
