"""What a Python worker imports when it unpickles a sink function.

Spark pickles ``index_sink.index_partition`` by reference, so every
Python worker that runs an index task imports its module, and with it
every package ``__init__`` on the way. These tests keep that import
set to the module's own dependency chain. No Spark session is needed.
"""

from __future__ import annotations

import ast
import json
import pathlib
import subprocess
import sys

PKG = pathlib.Path(__file__).resolve().parents[1] / "weather_monitoring_spark"


def test_index_sink_import_leaves_pandas_and_pyarrow_out():
    probe = (
        "import json, sys\n"
        "import weather_monitoring_spark.streaming.index_sink\n"
        "print(json.dumps(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=PKG.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []


def test_package_inits_import_no_package_module():
    offenders = []
    for init in sorted(PKG.rglob("__init__.py")):
        for node in ast.walk(ast.parse(init.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = ["." * node.level + (node.module or "")]
            else:
                continue
            offenders += [
                f"{init.relative_to(PKG.parent)}: {n}"
                for n in names
                if n.startswith(".") or n.split(".")[0] == PKG.name
            ]
    assert offenders == []
