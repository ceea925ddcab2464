"""Every package module imports without a Spark session.

Tools that import the package before (or without) starting a session —
docs, static checks, a CLI command that builds its session later —
must not fail on import. A module-level ``@udf``/``@pandas_udf``/
``@udtf`` with a DDL-string return type breaks this: the decorator
parses the string through the JVM of the active session.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_ALL = """
import importlib, pkgutil
import babylon_data_loader_spark as pkg
failed = []
for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
    try:
        importlib.import_module(m.name)
    except Exception as e:
        failed.append(f"{m.name}: {type(e).__name__}: {e}")
print("\\n".join(failed))
"""


def test_every_module_imports_without_a_session():
    # a fresh interpreter: the suite's own session must not leak in
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert proc.stdout.strip() == "", proc.stdout
