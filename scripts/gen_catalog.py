#!/usr/bin/env python
"""Regenerate CATALOG.md from the live registry."""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from i3cols_spark.catalog import build_catalog  # noqa: E402

if __name__ == "__main__":
    target = pathlib.Path(__file__).resolve().parent.parent / "CATALOG.md"
    target.write_text(build_catalog())
    print(f"wrote {target} ({target.stat().st_size} bytes)")
