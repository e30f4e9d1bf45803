"""Worktree self-test for scripts/opt_measure.py.

An earlier version of the script put a hardcoded absolute repo path on
``sys.path``, so a "before" run launched from a detached git worktree
silently imported the NEW engine — an A/B footgun that would
eventually fabricate a measurement.  The script now resolves the repo
root from its own file location; this test proves it by copying the
script into a synthetic worktree with a stub ``i3cols_spark`` package
and checking that ``--where`` resolves the STUB, not the real repo.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_opt_measure_resolves_engine_from_its_own_tree(tmp_path):
    wt = tmp_path / "worktree"
    (wt / "scripts").mkdir(parents=True)
    (wt / "i3cols_spark").mkdir()
    (wt / "i3cols_spark" / "__init__.py").write_text("")
    shutil.copy(
        os.path.join(REPO, "scripts", "opt_measure.py"),
        wt / "scripts" / "opt_measure.py",
    )
    out = subprocess.run(
        [sys.executable, str(wt / "scripts" / "opt_measure.py"), "--where"],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,  # hostile cwd: the real repo, which a naive run would import
    )
    resolved = out.stdout.strip()
    assert resolved == str(wt / "i3cols_spark"), resolved


def test_opt_measure_real_repo_resolves_itself():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "opt_measure.py"), "--where"],
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == os.path.join(REPO, "i3cols_spark")
