"""The tools import the package of the checkout they sit in: a copy's
oracle gate grades the copy's code, not whatever a fixed path holds."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "tool",
    ["check_correctness.py", "audit_plan_convergence.py",
     "gen_unicode_case_delta.py"],
)
def test_tool_imports_its_own_checkout(tmp_path, tool):
    copy = tmp_path / "checkout"
    shutil.copytree(
        os.path.join(REPO, "idb_backend_spark"), copy / "idb_backend_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (copy / "tools").mkdir()
    shutil.copy(os.path.join(REPO, "tools", tool), copy / "tools" / tool)
    # run the tool's module body (not its __main__ block), then report
    # which package the process resolved
    probe = (
        "import runpy, sys; runpy.run_path(sys.argv[1]); "
        "import idb_backend_spark; print(idb_backend_spark.__file__)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", probe, str(copy / "tools" / tool)],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == str(
        copy / "idb_backend_spark" / "__init__.py"
    )
