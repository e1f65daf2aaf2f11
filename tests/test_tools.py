"""Every script under tools/ imports by path without starting Spark, so a
helper deleted from the package fails here instead of at the tool's next
run."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

PROBE = """
import importlib.util, sys
from pyspark import SparkContext
for path in sys.argv[1:]:
    spec = importlib.util.spec_from_file_location("tool_" + path.rsplit("/", 1)[-1][:-3], path)
    try:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    except SystemExit as exc:
        raise AssertionError(f"{path} exited at import ({exc.code})") from None
    assert SparkContext._gateway is None, f"{path} started Spark at import"
"""


def test_every_tool_imports_without_starting_spark():
    tools = sorted(str(p) for p in (ROOT / "tools").glob("*.py"))
    assert tools
    run = subprocess.run([sys.executable, "-c", PROBE, *tools], cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
