"""Physical-plan inspection — the "is this the plan you'd want at
100 TB" feedback loop (SURVEY §4.2).

These helpers parse ``explain('formatted')`` output so tests can
assert the properties that matter at scale: filters reached the
parquet scan (PushedFilters), projection pruned the read schema
(ReadSchema), dimension joins broadcast, fact-fact joins sort-merge.
A query that silently loses one of these is correct-but-100×-slower —
exactly the regression class unit tests can't see.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schema_columns(df: DataFrame) -> dict[str, list[str]]:
    """Map of scanned file → columns actually read (ReadSchema)."""
    text = explain_str(df)
    out: dict[str, list[str]] = {}
    loc, i = "?", 0
    for line in text.splitlines():
        lm = re.search(r"Location: \S+ \[([^\]]*)", line)
        if lm:
            loc = lm.group(1)
        rm = re.search(r"ReadSchema: struct<([^>]*)>", line)
        if rm:
            cols = [c.split(":")[0] for c in rm.group(1).split(",") if c]
            out[f"{loc}#{i}"] = cols
            i += 1
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in explain_str(df)

