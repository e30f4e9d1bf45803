"""Query registry — the binding between SURVEY §2.3's declared
inventory, ``__spark_entry__.queries()`` and ``oracle_sql()``.

Each operator module registers its queries with the ``@query``
decorator.  A query is a callable ``(spark, sf_dir) -> DataFrame``; the
optional ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the same
parquet (tables pre-registered as views).  Omitting ``oracle`` marks
the query as non-SQL-expressible → the driver records a weaker
rows-only check (SURVEY §5.2).

Discipline (SURVEY §5.2.4): every computed column aliased identically
in both dialects; explicit casts where engines' type widening differs
(DuckDB sum(int)→HUGEINT, year()→BIGINT, ...); multi-row float
reductions rounded to a declared precision in BOTH dialects because
their summation order is nondeterministic; per-row IEEE arithmetic is
left unrounded (bit-identical across engines).  Ratios of exact
integers must round via ``functions/rounding.py`` (shared HALF_UP
floor construction), NOT ``round()``: dyadic rationals land exactly
on .5 boundaries where Spark rounds HALF_UP but DuckDB rounds doubles
half-to-even (caught by the sf0.1 soak, round 4).

Further rules, each caught live:
MONEY SUMS of exact-decimal products (p·(1−d) is an exact 4-dp
decimal) land exactly on .xx5 2-dp boundaries for small groups and
engine summation order decides the side — sum
``CAST(round(x*10000) AS BIGINT)`` in integer space and HALF_UP once
(q_sql_tpch_q3/q10); plain sums of 2-dp money are safe (they stay
2-dp, ≥ 0.005 from any boundary).  DECIMAL literals: DuckDB
``VALUES (0.5)`` AND Spark SQL-text ``100.0`` both parse as DECIMAL
(unlike ``F.lit``) — CAST ladder literals to DOUBLE when emitted as
columns, divide by ``CAST(100 AS DOUBLE)`` in SQL text
(q_agg_pareto, q_sql_tpch_*).  DuckDB CTEs are INLINED by default —
an unrolled iterative oracle (PCA's 8 matvecs) re-evaluates
exponentially unless every CTE is ``MATERIALIZED``.  DuckDB
``max_by`` takes no composite key — newest-wins oracles use the
row_number window form (q_merge_cdc_tombstones), the Spark side
keeps the hot-key-proof ``max_by(struct)`` aggregate.  ``bin()``
renders without leading zeros in BOTH engines, making leading-zero
counts pure integer/string arithmetic (the oracle-checked HLL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# SURVEY §2.3's declared inventory, in §-order.  ``surface_order()``
# lists these 60 first, then every other registered name in
# registration order (the import order in ``operators/__init__.py``).
CONTRACT_QUERIES: tuple[str, ...] = (
    # §2.3-A scans / projection / filter
    "q_scan_project", "q_filter_simple", "q_filter_compound",
    "q_filter_null_semantics", "q_project_computed",
    # §2.3-B joins
    "q_join_inner_hash", "q_join_sortmerge", "q_join_broadcast",
    "q_join_left_outer", "q_join_full_outer", "q_join_semi",
    "q_join_anti", "q_join_theta_range", "q_join_asof",
    "q_join_multiway_star",
    # §2.3-C aggregation / windows / sort / set ops
    "q_agg_global", "q_agg_groupby", "q_agg_distinct",
    "q_agg_approx_distinct", "q_agg_rollup", "q_agg_cube",
    "q_agg_grouping_sets", "q_agg_having",
    "q_window_rank", "q_window_topk_pergroup", "q_window_running",
    "q_window_sliding_frame", "q_window_lead_lag",
    "q_sort_multi", "q_topk",
    "q_union_all", "q_union_distinct", "q_intersect", "q_except",
    "q_subquery_in", "q_subquery_scalar", "q_exists_correlated",
    # §2.3-D scalar / nested / UDF surface
    "q_string_funcs", "q_date_funcs", "q_math_funcs", "q_case_when",
    "q_json_extract", "q_array_collect", "q_array_explode",
    "q_array_hof", "q_struct_nested", "q_map_funcs",
    "q_udf_scalar", "q_udaf_grouped", "q_udtf_expand",
    # §2.3-E LLM-pipeline north star
    "q_dedup_exact", "q_dedup_near_minhash", "q_text_stats",
    "q_tfidf_topterms", "q_similarity_knn_cosine",
    "q_similarity_pairs_threshold", "q_stream_tumbling",
    "q_stream_sliding", "q_stream_session", "q_stream_dedup_stateful",
)


def surface_order() -> list[str]:
    """Driver-facing ordering: ``CONTRACT_QUERIES`` in §-order, then
    every other registered name in registration order.  A contract
    name that is not registered raises ``KeyError``."""
    missing = [k for k in CONTRACT_QUERIES if k not in QUERIES]
    if missing:
        raise KeyError(f"surface_order: unregistered contract names: {missing}")
    contract = set(CONTRACT_QUERIES)
    return [*CONTRACT_QUERIES, *(k for k in QUERIES if k not in contract)]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco
