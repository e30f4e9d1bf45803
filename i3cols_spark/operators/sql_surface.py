"""The SQL ENTRY PATH on the checked surface: multi-join TPC-H-style
composites submitted as ``spark.sql()`` text over registered temp
views — proving a user can hand this engine the SQL they already run
(every other query on the surface goes through the DataFrame API;
these go through the parser/analyzer, exercising alias resolution,
date literals, subqueries and join reordering end-to-end).

The oracle is the SAME statement in DuckDB's dialect, so the value
hash pins the full parse → optimize → execute path, not a
re-expression.  Catalyst treats SQL and DataFrame plans identically
after analysis — the plan tests assert the composites still get
broadcast dims, partial aggregation and pushed date filters, i.e.
that the text path loses none of the physical quality the DataFrame
path is held to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import materialize, table

#: Pricing-date parameters sit inside the fixture's 1995-2001 span.
_Q3_DATE = "1998-03-15"
_Q5_LO, _Q5_HI = "1996-01-01", "1997-01-01"


def _register(spark: SparkSession, sf_dir: str, names: tuple) -> None:
    for t in names:
        table(spark, sf_dir, t).createOrReplaceTempView(t)


@query(
    "q_sql_tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           floor(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                          AS BIGINT)) / CAST(100 AS DOUBLE) + 0.5) / CAST(100 AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '{_Q3_DATE}'
      AND l.l_shipdate > DATE '{_Q3_DATE}'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the fixture schema
    (o_orderpriority stands in for the reference's o_shippriority):
    unshipped-revenue top-10 for one market segment — the classic
    3-way fact join with selective filters on BOTH fact sides.
    Submitted as SQL TEXT; per-group revenue rounds at 2 dp (groups
    are order-sized, a handful of terms) and the top-10 orders on the
    rounded value with (date, orderkey) tie-breaks."""
    _register(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(f"""
        SELECT l.l_orderkey,
               floor(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                              AS BIGINT)) / CAST(100 AS DOUBLE) + 0.5) / CAST(100 AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '{_Q3_DATE}'
          AND l.l_shipdate > DATE '{_Q3_DATE}'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
    """)


@query(
    "q_sql_tpch_q5",
    oracle=f"""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = (SELECT min(r_name) FROM region)
      AND o.o_orderdate >= DATE '{_Q5_LO}'
      AND o.o_orderdate <  DATE '{_Q5_HI}'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q_sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way snowflake join with
    the LOCAL constraint (customer and supplier share a nation) and a
    scalar subquery picking the region — the join-reordering stress
    test of the suite, submitted as SQL text.  Revenue per nation sums
    thousands of doubles → rounded at 2 dp (float error ~1e-7 at this
    magnitude), ordered on the rounded value with a name tie-break."""
    _register(
        spark, sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return spark.sql(f"""
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = (SELECT min(r_name) FROM region)
          AND o.o_orderdate >= DATE '{_Q5_LO}'
          AND o.o_orderdate <  DATE '{_Q5_HI}'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name
    """)


_Q1_SHIP_CUTOFF = "2001-06-01"
_Q10_LO, _Q10_HI = "1996-01-01", "1996-04-01"

_Q1_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '{_Q1_SHIP_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""

_Q10_SQL = f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           -- money discipline: p*(1-d) is an EXACT 4-dp decimal, so a
           -- small group's sum can land exactly on a .xx5 rounding
           -- boundary and engine summation order decides the side
           -- (caught live: 307843.595).  Sum in integer 10^-4 units,
           -- then HALF_UP once -- bit-deterministic in both engines.
           floor(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                          AS BIGINT)) / CAST(100 AS DOUBLE) + 0.5) / CAST(100 AS DOUBLE) AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '{_Q10_LO}'
      AND o.o_orderdate <  DATE '{_Q10_HI}'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@query("q_sql_tpch_q1", oracle=_Q1_SQL)
def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) as SQL text — the scan-heavy
    single-table aggregate of the suite (nine aggregates over ~all of
    lineitem, the whole-stage-codegen showcase): one pushed date
    filter, one map-side-combined groupBy of 6 cells.  The ONE
    statement runs verbatim in both engines (identical dialect
    subset), so the oracle string IS the Spark string."""
    _register(spark, sf_dir, ("lineitem",))
    return spark.sql(_Q1_SQL)


@query("q_sql_tpch_q10", oracle=_Q10_SQL)
def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) as SQL text: the 4-way
    join + wide GROUP BY (customer attributes ride the key) + top-20,
    with selective filters on both fact sides — the classic
    "who should we call about returns this quarter" report.  One
    statement, both dialects, rounded revenue ordering with a custkey
    tie-break."""
    _register(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    return spark.sql(_Q10_SQL)


_WINDOW_SQL = """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
                 AS cust_total
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, rn, cust_total
    FROM ranked WHERE rn <= 2 AND cust_total > 900000
    ORDER BY cust_total DESC, o_custkey, rn
"""


@query("q_sql_window_topk", oracle=_WINDOW_SQL)
def q_sql_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-SQL text path: top-2 orders per high-value customer
    via ``row_number`` + a windowed customer total, filtered on the
    window result (the QUALIFY pattern spelled as a CTE) — the window-
    function half of the SQL surface q_sql_tpch_* (joins/aggregates)
    doesn't touch, run as ONE statement in both engines.

    Determinism notes: the per-customer total sums 2-dp money values,
    which always lands ≥ 0.005 from a 2-dp rounding boundary (sums of
    2-dp decimals ARE 2-dp decimals) — unlike Q10's 4-dp products, so
    plain round() is safe here; row_number ties break on o_orderkey.
    """
    _register(spark, sf_dir, ("orders",))
    return spark.sql(_WINDOW_SQL)


# ---------------------------------------------------------------------------
# Round-8 wave: six more TPC-H composites on the SQL TEXT path.  Each
# statement is defined ONCE and submitted verbatim to both engines, so
# the value hash pins parse → optimize → execute with zero dialect
# re-expression.  Money sums follow the registry discipline: exact-4dp
# products summed in integer space, HALF_UP once at presentation.
# Fixture adaptations are noted per query (no partsupp / commitdate /
# shipmode / comment columns exist, so Q2/4/9/11/12/16/19/20/21/22 are
# out of reach BY SCHEMA, not by engine capability).
# ---------------------------------------------------------------------------

_Q6_SQL = """
    SELECT floor(sum(CAST(round(l_extendedprice * l_discount * 10000)
                          AS BIGINT))
                 / CAST(100 AS DOUBLE) + 0.5) / CAST(100 AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1997-01-01'
      AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
"""


@query("q_sql_tpch_q6", oracle=_Q6_SQL)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-
    aggregate — one table, three range predicates, one global sum.
    The simplest statement on the text path and the sharpest pushdown
    probe: every predicate must reach the parquet scan.  The discount
    bounds are CAST to DOUBLE in the text because both parsers read
    bare 0.05 as DECIMAL (registry discipline), and the money sum is
    the exact-4dp integer-space pattern."""
    _register(spark, sf_dir, ("lineitem",))
    return spark.sql(_Q6_SQL)


_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           floor(sum(cents4) / CAST(100 AS DOUBLE) + 0.5)
               / CAST(100 AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                    AS BIGINT) AS cents4
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= DATE '1996-01-01'
          AND l.l_shipdate <  DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@query("q_sql_tpch_q7", oracle=_Q7_SQL)
def q_sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two
    nations by ship year — the 6-way join whose nation filters sit on
    TWO DIFFERENT dimension arms (supplier's nation vs customer's),
    the classic join-reordering trap (pushing either filter alone
    loses the OR's other direction).  year() is CAST to BIGINT in the
    shared text because the engines' native year widths differ."""
    _register(spark, sf_dir,
              ("supplier", "lineitem", "orders", "customer", "nation"))
    return spark.sql(_Q7_SQL)


_Q13_SQL = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query("q_sql_tpch_q13", oracle=_Q13_SQL)
def q_sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the double aggregation over
    a LEFT OUTER join — count orders per customer INCLUDING the
    zero-order customers (count(o_orderkey) over null-extended rows
    is the null-skipping count both engines must agree on), then
    histogram the counts.  Adaptation: the fixture has no o_comment,
    so the spec's NOT LIKE filter is dropped — the shape under test
    is outer-join-then-reaggregate."""
    _register(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_Q13_SQL)


_Q14_SQL = """
    SELECT floor(CAST(100 AS DOUBLE) * CAST(promo4 AS DOUBLE)
                 / CAST(total4 AS DOUBLE) * 1000000 + 0.5)
               / CAST(1000000 AS DOUBLE) AS promo_revenue_pct,
           floor(CAST(promo4 AS DOUBLE) / CAST(100 AS DOUBLE) + 0.5)
               / CAST(100 AS DOUBLE) AS promo_revenue,
           floor(CAST(total4 AS DOUBLE) / CAST(100 AS DOUBLE) + 0.5)
               / CAST(100 AS DOUBLE) AS total_revenue
    FROM (
        SELECT sum(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                        * 10000) AS BIGINT)
                        ELSE 0 END) AS promo4,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                        AS BIGINT)) AS total4
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= DATE '1996-09-01'
          AND l.l_shipdate <  DATE '1996-10-01'
    ) sums
"""


@query("q_sql_tpch_q14", oracle=_Q14_SQL)
def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation inside a
    fact-dim join — the promo share of one month's revenue.  Both the
    numerator and denominator are exact integer-space money sums, so
    the percentage is a deterministic double ratio HALF_UP at 6 dp
    (summation order can never move it).  Adaptation: the fixture's
    p_type is a bare category (no 'PROMO ANODIZED TIN' trailing
    words), so the spec's LIKE 'PROMO%%' is the equality it reduces
    to."""
    _register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q14_SQL)


_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)) AS total4
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           floor(CAST(r.total4 AS DOUBLE) / CAST(100 AS DOUBLE) + 0.5)
               / CAST(100 AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total4 = (SELECT max(total4) FROM revenue)
    ORDER BY s.s_suppkey
"""


@query("q_sql_tpch_q15", oracle=_Q15_SQL)
def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the spec's revenue VIEW expressed as
    a CTE consumed twice — once joined to supplier, once under the
    scalar max() subquery.  The winner comparison runs on the EXACT
    integer cents (total4 = max(total4)), never on rounded doubles,
    so a two-supplier tie is decided identically in both engines; the
    presentation rounding happens after the equality."""
    _register(spark, sf_dir, ("supplier", "lineitem"))
    return spark.sql(_Q15_SQL)


_Q18_SQL = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
"""


@query("q_sql_tpch_q18", oracle=_Q18_SQL)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the IN-subquery whose inner
    HAVING re-aggregates the same fact table the outer join scans —
    the semi-join-into-aggregate shape.  Quantities are whole-number
    doubles, so per-order sums (≤ ~500) are exact and the > 300
    threshold is deterministic; the output CAST makes the engines'
    sum widths agree."""
    _register(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_Q18_SQL)


_Q8_SQL = """
    SELECT o_year,
           floor(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                               THEN cents4 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(cents4) AS DOUBLE) * 1000000 + 0.5)
               / CAST(1000000 AS DOUBLE) AS mkt_share,
           floor(CAST(sum(cents4) AS DOUBLE) / CAST(100 AS DOUBLE) + 0.5)
               / CAST(100 AS DOUBLE) AS total_revenue
    FROM (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               n2.n_name AS supp_nation,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                    AS BIGINT) AS cents4
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE p.p_type = 'PROMO'
          AND n1.n_regionkey = (SELECT n_regionkey FROM nation
                                WHERE n_name = 'NATION_1')
          AND o.o_orderdate >= DATE '1995-01-01'
          AND o.o_orderdate <  DATE '1997-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


@query("q_sql_tpch_q8", oracle=_Q8_SQL)
def q_sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the deepest join tree the
    fixture schema can express — 7 relations, the nation dimension
    consumed TWICE under different roles (customer's region gates the
    market, supplier's nation is the share numerator), the region
    resolved by a scalar subquery against the target nation itself.
    Both numerator and denominator are exact integer-cents sums, so
    the share is a deterministic double ratio HALF_UP at 6 dp."""
    _register(spark, sf_dir,
              ("part", "lineitem", "orders", "customer", "nation", "supplier"))
    return spark.sql(_Q8_SQL)


_Q17_SQL = """
    SELECT floor(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                      AS DOUBLE)
                 / CAST(100 AS DOUBLE) / CAST(7 AS DOUBLE) * 1000000 + 0.5)
               / CAST(1000000 AS DOUBLE) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small_orders
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
      )
"""


@query("q_sql_tpch_q17", oracle=_Q17_SQL)
def q_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the CORRELATED scalar
    subquery classic — per part, compare each line's quantity to 20%
    of THAT part's average quantity; the optimizer must decorrelate
    into an aggregate-then-join or pay a per-row subquery.  Quantities
    are whole-number doubles so the per-part average is an exact ratio
    and the 0.2× threshold compares identically in both engines; the
    revenue sum runs in integer cents.  Adaptation: the fixture's
    p_brand carries no container column, so the spec's container
    filter is dropped."""
    _register(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q17_SQL)


@query(
    "q_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT o_custkey AS c, o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             lag(o_orderkey) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev_k
      FROM orders
    ),
    walk(c, k, pos, cum_cents) AS (
      SELECT c, k, CAST(1 AS BIGINT), cents FROM base WHERE prev_k IS NULL
      UNION ALL
      SELECT b.c, b.k, w.pos + 1, w.cum_cents + b.cents
      FROM walk w JOIN base b ON b.c = w.c AND b.prev_k = w.k
      WHERE w.pos < 64
    )
    SELECT c AS o_custkey, k AS o_orderkey, pos,
           cum_cents / 100.0 AS cum_spend
    FROM walk
    ORDER BY o_custkey, pos
    """,
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on the SQL-text path: walk each customer's
    order chain (linked-list via a window-computed prev pointer) from
    their first order, carrying position and exact cumulative spend —
    submitted as text so Spark 4's recursive-CTE executor (UnionLoop)
    is what runs, value-hash-pinned against DuckDB's recursive
    executor running the IDENTICAL statement.  This is a SURFACE
    capability entry: the iterative-graph family (BFS/SSSP/CC/LPA)
    drives recursion through DataFrame loops with explicit
    checkpoints; a user porting warehouse SQL brings WITH RECURSIVE
    text, and this query proves the engine honors it end-to-end.

    The recursion is deliberately LIST-shaped (each row has exactly
    one successor) and LEVEL-BOUNDED at 64 positions in the statement
    itself (the _BFS_HOPS discipline: the bound IS the semantics —
    fixture chains max out at 25, and Spark executes recursion one
    driver-scheduled level per iteration, so an unbounded walk over
    replication-grown chains would degrade into hundreds of chained
    jobs); total recursive work is |orders| rows across ≤ 64
    iterations — data-sized, never the exponential
    path blow-up a cyclic-graph recursion risks; the equivalent
    running-sum window spelling is the documented production rewrite
    at 100 TB (one shuffle, no iteration) and the property test pins
    the two equal.  Spend stays in exact integer cents through the
    recursion with ONE final division.
    """
    _register(spark, sf_dir, ("orders",))
    # Total recursive rows = |orders| (each order sits at exactly one
    # level), which exceeds Spark's 1M-row recursion safety default
    # once the fixture is replicated; the walk itself is level-bounded
    # at 64 in the statement, so the LEVEL guard (default 100) needs
    # no touch.  Raising the ROW guard for a provably list-shaped
    # recursion is the correct setting, not a bypass.  The limit is a
    # FIXED constant (a data-sized bound ran an eager count() job
    # inside the builder), and the raise is
    # SCOPED: the conf is read at execution time, so the recursion is
    # materialized here (eager ``materialize``) and the session guard
    # restored in a finally, leaving later statements under the
    # default runaway-recursion protection.
    prior = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(2_000_000_000))
    try:
        return materialize(_recursive_walk_sql(spark))
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionRowLimit", prior)


def _recursive_walk_sql(spark: SparkSession) -> DataFrame:
    return spark.sql("""
        WITH RECURSIVE base AS (
          SELECT o_custkey AS c, o_orderkey AS k,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 lag(o_orderkey) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS prev_k
          FROM orders
        ),
        walk(c, k, pos, cum_cents) AS (
          SELECT c, k, CAST(1 AS BIGINT), cents FROM base WHERE prev_k IS NULL
          UNION ALL
          SELECT b.c, b.k, w.pos + 1, w.cum_cents + b.cents
          FROM walk w JOIN base b ON b.c = w.c AND b.prev_k = w.k
          WHERE w.pos < 64
        )
        SELECT c AS o_custkey, k AS o_orderkey, pos,
               cum_cents / CAST(100 AS DOUBLE) AS cum_spend
        FROM walk
        ORDER BY o_custkey, pos
    """)


@query(
    "q_sql_lateral_topk",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_extendedprice
    FROM orders o, LATERAL (
      SELECT l_linenumber, l_extendedprice
      FROM lineitem li
      WHERE li.l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC
      LIMIT 2
    ) l
    WHERE o.o_orderpriority = '1-URGENT'
    ORDER BY o.o_orderkey, l.l_extendedprice DESC
    """,
)
def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT on the
    SQL-text path: the two most expensive line items of every urgent
    order — the for-each-row-top-k idiom warehouse SQL users write
    instead of a rank window.  Spark's analyzer DECORRELATES the
    lateral into a join + per-key limit (the plan the DataFrame
    top-k-per-group spelling gets), so this entry pins that rewrite's
    SEMANTICS against DuckDB executing the lateral literally — two
    very different physical strategies, one hash.  Determinism:
    l_extendedprice is unique within an order (fixture-verified,
    the q_ml_eval_ndcg tie-break argument), so LIMIT 2 is a total
    selection.  At 100 TB the decorrelated plan is exactly
    q_window_topk_pergroup's shuffle — the lateral TEXT costs nothing
    over the window spelling.
    """
    _register(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql("""
        SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_extendedprice
        FROM orders o, LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM lineitem li
          WHERE li.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC
          LIMIT 2
        ) l
        WHERE o.o_orderpriority = '1-URGENT'
        ORDER BY o.o_orderkey, l.l_extendedprice DESC
    """)
