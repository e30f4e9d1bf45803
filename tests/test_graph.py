"""Connected-components correctness on known topologies (the pair
oracle in test_oracle_parity covers the embedding edge set; these
cover shapes the fixture graph may not contain)."""

from __future__ import annotations

from i3cols_spark.operators.graph import connected_components


def _cc(spark, nodes, edges, max_iter=25):
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        edf = edf.limit(0)
    out = connected_components(ndf, edf, max_iter=max_iter)
    return {r.id: r.comp for r in out.collect()}

def test_long_chain_converges_in_log_rounds(spark):
    """A 64-node chain has diameter 63; plain min-propagation would
    need 63 rounds.  Path halving must finish within 10 iterations
    (log2(64)=6 hook/shortcut rounds + slack)."""
    n = 64
    comp = _cc(spark, range(n), [(i, i + 1) for i in range(n - 1)], max_iter=10)
    assert set(comp.values()) == {0}


def test_two_components_and_singleton(spark):
    comp = _cc(spark, range(7), [(1, 2), (2, 3), (5, 6)])
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[0] == 0 and comp[4] == 4


def test_no_edges_all_singletons(spark):
    comp = _cc(spark, range(5), [])
    assert comp == {i: i for i in range(5)}


def test_edge_orientation_irrelevant(spark):
    a = _cc(spark, range(4), [(3, 0), (1, 3)])
    b = _cc(spark, range(4), [(0, 3), (3, 1)])
    assert a == b
    assert a[0] == a[1] == a[3] == 0


def test_max_iter_below_one_raises_value_error(spark):
    import pytest

    with pytest.raises(ValueError, match="max_iter"):
        _cc(spark, range(3), [(0, 1)], max_iter=0)


def test_non_convergence_raises_runtime_error(spark):
    """A chain too long for max_iter=1 must raise the contract error —
    partially-merged labels are silently wrong downstream."""
    import pytest

    with pytest.raises(RuntimeError, match="no fixpoint"):
        _cc(spark, range(64), [(i, i + 1) for i in range(63)], max_iter=1)


def test_cc_does_not_mutate_caller_session_conf(spark):
    """The graph-sized shuffle.partitions override must live in an
    isolated session: a concurrently compiled
    query in the caller's session must never see the loop's value.
    The caller conf is asserted unchanged and a frame compiled right
    after the loop plans with the session-default partition count."""
    from i3cols_spark.operators.graph import connected_components

    from pyspark.sql import functions as F

    before = spark.conf.get("spark.sql.shuffle.partitions")
    nodes = spark.range(6).select(F.col("id"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "a long, b long"
    )
    out = {
        (r["id"], r["comp"])
        for r in connected_components(nodes, edges).collect()
    }
    assert out == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # a fresh aggregation in the caller session PLANS with the session
    # conf (AQE may coalesce at runtime, so check the planned
    # partitioning, not the executed partition count)
    probe = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    import re

    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"hashpartitioning\([^)]*, (\d+)\)", plan)
    assert m and m.group(1) == before, plan


def test_kcore_peel_converges_within_round_budget(spark, sf_dir):
    """The FIXED 4-round peel budget must reach the true k-core on
    the fixture: the last two trace rows agree (here the fixture's
    random co-purchase graph cascades to the EMPTY 110-core — peeling
    near the mean degree is unstable on random graphs, and the trace
    showing that cascade is the analytical point), and node/edge
    counts are monotonically non-increasing."""
    from i3cols_spark.operators import QUERIES

    rows = sorted(
        ((r["round"], r["n_nodes"], r["n_edges"])
         for r in QUERIES["q_graph_kcore_peel"](spark, sf_dir).collect())
    )
    assert len(rows) == 5
    assert rows[-1][1:] == rows[-2][1:], rows  # converged
    for a, b in zip(rows, rows[1:]):
        assert b[1] <= a[1] and b[2] <= a[2], rows
