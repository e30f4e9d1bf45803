"""Differential test: every registered query vs its DuckDB oracle —
the local stand-in for the driver's CORRECTNESS gate (SURVEY §5.2)."""

from __future__ import annotations

import pytest

from i3cols_spark.compare import compare_query
from i3cols_spark.operators import ORACLES, QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        compare_query(df, ORACLES[name], sf_dir, name)
    else:
        # Rows-only check for non-SQL-expressible ops — still enforce
        # driver-canonicalizer sortability on the collected rows.
        from i3cols_spark.compare import assert_driver_sortable

        rows = [tuple(r) for r in df.collect()]
        assert_driver_sortable(df.columns, rows, name)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_driver_safe(spark, sf_dir, name):
    """No registered query may emit a top-level array/map/struct column:
    the driver's canonicalizer pandas-sorts every output column and
    crashes on unhashable numpy arrays (seen on q_array_collect and
    q_map_funcs).  Complex types belong upstream of the final
    projection; outputs are scalars."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = QUERIES[name](spark, sf_dir)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name} emits driver-unsortable columns: {bad}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue", "n_items"}


def test_surface_order_is_contract_then_registration_order():
    """The surface rule: the 60 SURVEY §2.3 contract queries in
    §-order, then every other registered name in registration order,
    each exactly once; every contract query has a DuckDB oracle."""
    import __spark_entry__ as entrymod
    from i3cols_spark.operators import CONTRACT_QUERIES

    order = list(entrymod.queries())
    assert len(CONTRACT_QUERIES) == 60
    assert order[:60] == list(CONTRACT_QUERIES)
    assert order[60:] == [n for n in QUERIES if n not in CONTRACT_QUERIES]
    assert sorted(order) == sorted(QUERIES)
    missing = [n for n in CONTRACT_QUERIES if n not in ORACLES]
    assert not missing, f"contract queries without oracle: {missing}"


def test_catalog_first_sentence_keeps_et_al():
    """An "et al." inside the first sentence does not end it."""
    from i3cols_spark.catalog import _first_sentence

    doc = (
        "KMV distinct estimator (Bar-Yossef et al. 2002) over\n"
        "    user ids.  Second sentence."
    )
    assert _first_sentence(doc) == (
        "KMV distinct estimator (Bar-Yossef et al. 2002) over user ids."
    )
    assert _first_sentence("Compare vs. baseline, cf. SURVEY. Rest.") == (
        "Compare vs. baseline, cf. SURVEY."
    )


def test_catalog_current():
    """CATALOG.md is generated from the live registry — a stale
    committed copy fails here, same discipline as
    the README count tripwire.  Regenerate with
    ``python scripts/gen_catalog.py``."""
    import pathlib

    from i3cols_spark.catalog import build_catalog

    committed = (
        pathlib.Path(__file__).resolve().parent.parent / "CATALOG.md"
    ).read_text()
    assert committed == build_catalog(), (
        "CATALOG.md is stale — run: python scripts/gen_catalog.py"
    )


def test_readme_surface_count_in_sync():
    """Surface-count tripwire: round 9 needed
    three manual 'count sync' commits because README counts drifted
    from the registry.  One source of truth: every '<N> registered
    entries' mention in README.md must equal len(surface_order()),
    and the registry must be fully oracle-backed (the round-10
    rows-only flip made that a standing invariant)."""
    import pathlib
    import re

    from i3cols_spark.operators.registry import surface_order

    n = len(surface_order())
    assert len(QUERIES) == n
    assert len(ORACLES) == n, sorted(set(QUERIES) - set(ORACLES))

    readme = (
        pathlib.Path(__file__).resolve().parent.parent / "README.md"
    ).read_text()
    # Normalize whitespace FIRST (a line-wrapped
    # "(310\ndistinct operators" mention slipped through the
    # space-only regex for a whole round) so wrapped mentions match.
    flat = re.sub(r"\s+", " ", readme)
    claimed = {int(m) for m in re.findall(r"(\d+) registered entries", flat)}
    assert claimed == {n}, f"README claims {claimed}, registry has {n}"
    distinct = {
        int(m) for m in re.findall(r"\((\d+) distinct operators", flat)
    }
    assert distinct == {n - 1}, distinct
    # Belt-and-braces: no OTHER "<N> distinct operators" phrasing (any
    # punctuation/wrapping) may carry a stale number anywhere in the
    # README.
    all_distinct = {
        int(m) for m in re.findall(r"(\d+) distinct operators", flat)
    }
    assert all_distinct == {n - 1}, all_distinct
