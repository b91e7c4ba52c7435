"""Every `from cs598vectordb_spark… import name` in the repository's
entry scripts must resolve — bench.py, __spark_entry__.py, tools/*.py and
perfbench/*.py. Several tool scripts do heavy work at import time, so
the scripts are never imported: their AST is walked and only the
package modules they name are imported. This catches a renamed or
deleted program function before the script that calls it runs."""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "cs598vectordb_spark"


def _entry_scripts() -> list[Path]:
    return sorted(
        [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
        + list((ROOT / "tools").glob("*.py"))
        + list((ROOT / "perfbench").glob("*.py"))
    )


def _package_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each package import; name is None for a
    plain `import cs598vectordb_spark.x`."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == PACKAGE:
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == PACKAGE
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


@pytest.mark.parametrize("script", _entry_scripts(), ids=lambda p: str(p.relative_to(ROOT)))
def test_entry_script_package_imports_resolve(script):
    missing = [
        f"{script.name}:{line} {module}" + (f".{name}" if name else "")
        for line, module, name in _package_imports(script)
        if not _resolves(module, name)
    ]
    assert not missing, missing


def test_worker_daemon_imports_as_spark_workers_see_it(tmp_path):
    """Spark starts the worker daemon as `python -m` with the repository
    on PYTHONPATH and a working directory of its own. A daemon module
    that fails to import there breaks every Python UDF job with an
    opaque "Python daemon failed to launch", and importing it must not
    start a JVM."""
    code = (
        "import cs598vectordb_spark.worker_daemon, pyspark; "
        "assert pyspark.SparkContext._active_spark_context is None"
    )
    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
