"""Every project path a tracked file cites exists.

Code, comments and documents cite root documents (``NAME.md``,
``NAME.json``) and repository paths under ``scripts/`` and ``plans/``.
A citation of a file that is gone points the reader at nothing, so the
citations are found with a pattern and checked against the tree.

Scanned: the tracked ``.py`` and ``.sh`` files, markdown below the
repository root, ``README.md`` and the root documents README names.
Left out: root documents README does not name (inputs the project does
not maintain, such as the paper abstract and related-work notes), and
the two history documents, CHANGES.md and NEGATIVES.md, which name
deleted files on purpose, and this file, whose test data cites
missing ones.
"""

from __future__ import annotations

import glob
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIPPED = {"CHANGES.md", "NEGATIVES.md", os.path.relpath(__file__, REPO)}

# A root document: capitalised name, ``*`` allowed (``GONE_r*.json``),
# not preceded by a path or a word character (``perfbench/README.md``,
# ``_MIRROR.json`` are not root citations).
_ROOT_DOC = re.compile(r"(?<![\w/.\-])([A-Z][A-Za-z0-9_*]*\.(?:md|json))\b")
# A path under scripts/ or plans/ at the root, braces and globs allowed
# (``plans/r9/q_x_{before,after}.txt``).
_REPO_PATH = re.compile(r"(?<![\w/.\-])((?:scripts|plans)/[\w./*{},\-]*)")


def _exists(path: str) -> bool:
    if any(c in path for c in "*{"):
        prefix = re.split(r"[*{]", path)[0]
        return bool(glob.glob(os.path.join(REPO, glob.escape(prefix)) + "*"))
    return os.path.exists(os.path.join(REPO, path))


def missing_citations(text: str) -> list[str]:
    """The cited paths in ``text`` that do not exist in the tree."""
    cited = [m.group(1) for m in _ROOT_DOC.finditer(text)]
    cited += [m.group(1).rstrip(".,") for m in _REPO_PATH.finditer(text)]
    return [p for p in cited if not _exists(p)]


def _scanned_files() -> list[str]:
    tracked = subprocess.run(
        ["git", "ls-files", "*.py", "*.sh", "*.md"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    with open(os.path.join(REPO, "README.md")) as fh:
        named = set(_ROOT_DOC.findall(fh.read())) | {"README.md"}
    return [
        f for f in tracked
        if os.path.exists(os.path.join(REPO, f))
        and ("/" in f or not f.endswith(".md") or f in named)
        and f not in SKIPPED
    ]


def test_every_cited_path_exists():
    files = _scanned_files()
    assert "README.md" in files and "ROADMAP.md" in files and len(files) > 50
    broken = []
    for f in files:
        with open(os.path.join(REPO, f), errors="replace") as fh:
            for i, line in enumerate(fh, 1):
                broken += [f"{f}:{i}: {p}" for p in missing_citations(line)]
    assert not broken, "cited paths that do not exist:\n" + "\n".join(broken)


def test_the_pattern_finds_missing_files():
    """Missing files, cited the ways the tree cited its round-era
    files, are all reported; existing files and nested paths are not."""
    text = (
        "see RETIRED.md, GONE_r*.json and GONE_r07.json; "
        "plans/r9/q_agg_rollup_{before,after}.txt and "
        "(scripts/gone_probe.py). Kept: README.md, BASELINE.json, "
        "scripts/soak.py, perfbench/README.md, i3cols_spark/plans/checks.py."
    )
    assert missing_citations(text) == [
        "RETIRED.md",
        "GONE_r*.json",
        "GONE_r07.json",
        "plans/r9/q_agg_rollup_{before,after}.txt",
        "scripts/gone_probe.py",
    ]
