"""Distributed connected components — dedup CLUSTERS, not just pairs.

Every pair-producing dedup op (minhash LSH, ngram Jaccard, embedding
cosine — operators/dedup.py, similarity.py) stops at near-dup PAIRS.
A training-data pipeline needs the transitive closure: if A~B and
B~C, all three are one duplicate cluster and one representative
survives.  That closure is connected components over the pair graph —
the piece the single-machine reference cannot express at all and
Spark has no built-in for.

Algorithm: iterated min-label HOOKING + pointer-jumping SHORTCUT (the
classic PRAM/Pregel CC shape, same family as the large-star/small-star
MapReduce algorithm):

  hook      comp[u] ← min(comp[u], min over neighbors v of comp[v])
  shortcut  comp[u] ← comp[comp[u]]   (path halving)

Plain neighbor-min propagation alone needs O(diameter) rounds — dup
chains in a crawl corpus can be long.  The shortcut step halves label
paths each round, giving O(log n) rounds on any topology.  Each round
is two keyed shuffles over (nodes + edges) — no per-round growth —
and ``materialize`` truncates the lineage so round k's plan does
not replay rounds 1..k-1.  Convergence is an exact fixpoint check
(count of changed labels), one lightweight action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from i3cols_spark.functions.vectors import as_double
from i3cols_spark.operators.registry import query
from i3cols_spark.operators.similarity import rep_pair_sims
from i3cols_spark.sources.tables import materialize, table

#: Supplier node ids are ``l_suppkey + _SUPP_OFFSET`` (2^40) in every
#: trading-graph query, disjoint from customer keys at any plausible
#: scale factor.  The oracles spell it 1099511627776.
_SUPP_OFFSET = 1 << 40


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the min node id of its component.

    ``nodes``: one column ``id`` (long).  ``edges``: columns ``a``,
    ``b`` (long, undirected; either orientation).  Returns ``(id,
    component)`` — singletons keep their own id.

    Scale shape: state is one (id, comp) row per node; each round
    shuffles edges once (hook) and labels twice (shortcut + change
    count).  Rounds are O(log n) thanks to path halving, independent
    of component diameter.
    """
    if max_iter < 1:
        # Without this, zero loop iterations would fall through to the
        # non-convergence branch with `changed` unbound (NameError
        # instead of the intended contract error).
        raise ValueError(f"connected_components: max_iter must be >= 1, got {max_iter}")
    # Materialize the edge list ONCE: the hook join re-reads it every
    # round, and without this the entire upstream pipeline (e.g. the
    # pair GEMM) would re-execute per round.  Checkpoint BEFORE
    # symmetrizing — a union of two selects over the input computes
    # the upstream plan once per branch (the pair GEMM ran twice);
    # flipping the checkpointed frame is a narrow re-read.
    one = materialize(edges.select("a", "b"))
    sym = one.union(one.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Size the loop's parallelism to the MATERIALIZED graph, not the
    # session default: the checkpoint inherits the upstream plan's
    # partition count (e.g. 64 from a union of 32+32), so every round
    # would launch that many scan tasks even for a few thousand edges —
    # task launches, not shuffle bytes, dominate the loop at small
    # sizes (~0.5 s/round measured).  The count is one cheap job over
    # the checkpoint; coalesce is narrow (no shuffle).  At real scale
    # ``p`` saturates at defaultParallelism and this is a no-op.
    spark = edges.sparkSession
    try:
        shuffle_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" under some deployments
        shuffle_conf = spark.sparkContext.defaultParallelism
    p = max(1, min(shuffle_conf, int(sym.count() // 1_000_000) + 1))
    if p < sym.rdd.getNumPartitions():
        sym = sym.coalesce(p)
    labels = (
        nodes.select("id", F.col("id").alias("comp"))
        .coalesce(p)
        .transform(materialize, lazy=True)
    )

    # Scope shuffle.partitions to the graph-sized ``p`` for the loop's
    # plan compilations: checkpoint materialization fixes the physical
    # plan (df.rdd — no AQE re-optimization), so without this every
    # round's 3 exchanges launch the session-default task count over
    # kilobytes of labels.  The override lives in an ISOLATED
    # spark.newSession() (same context, own conf) — mutating the
    # caller's session conf would leak the graph-sized value into any
    # query compiled concurrently in that session, e.g. a streaming
    # micro-batch.  Frames cross sessions via
    # global temp views; the loop's checkpoints are materialized by
    # its own fixpoint actions, so the handed-back frame is a cheap
    # RDD scan.  On big graphs p == the session value anyway.
    if p == shuffle_conf:
        labels = _cc_loop(sym, labels, p, max_iter)
    else:
        iso = spark.newSession()
        iso.conf.set("spark.sql.shuffle.partitions", str(p))
        gdb = spark.conf.get(
            "spark.sql.globalTempDatabase", "global_temp"
        )
        tag = f"_cc_{id(sym)}"
        sym.createOrReplaceGlobalTempView(f"{tag}_sym")
        labels.createOrReplaceGlobalTempView(f"{tag}_labels")
        try:
            out = _cc_loop(
                iso.table(f"{gdb}.{tag}_sym"),
                iso.table(f"{gdb}.{tag}_labels"),
                p,
                max_iter,
            )
            out.createOrReplaceGlobalTempView(f"{tag}_out")
            # rebind into the caller's session (analysis is eager, so
            # the view can be dropped right after)
            labels = spark.table(f"{gdb}.{tag}_out")
        finally:
            for suffix in ("_sym", "_labels", "_out"):
                spark.catalog.dropGlobalTempView(f"{tag}{suffix}")
    return labels.select("id", "comp")


def _cc_loop(sym: DataFrame, labels: DataFrame, p: int, max_iter: int) -> DataFrame:
    """Hook + pointer-jump rounds with fixpoint checks every 2nd round
    (the count is a full job; round overhead, not data, dominates at
    small sizes — worst case is one extra converged round before
    detection)."""
    check_every = 2
    changed = -1
    for it in range(max_iter):
        # hook: pull the min neighbor label onto each node
        nbr = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        hooked = (
            labels.join(nbr, labels.id == nbr.a, "left")
            .select(
                "id",
                F.col("comp").alias("old_comp"),
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
        )
        # shortcut: comp ← comp[comp]  (path halving via self-join)
        parent = hooked.select(
            F.col("id").alias("p_id"), F.col("comp").alias("p_comp")
        )
        # Lazy checkpoint: the fixpoint count below is the action that
        # writes it.  Under AQE the lazy cut still runs nxt's shuffle
        # map stages at this call: measured at sf0.01 on
        # q_dedup_minhash_cluster_rep (both CC calls converge in 2
        # rounds), each round's materialize ran 4-6 jobs, all tagged
        # MATERIALIZE_TAG, and each fixpoint count 2 more.
        # coalesce(p) bounds the checkpoint's partition count (and the
        # final join stage's task count) to the graph-sized ``p``.
        nxt = (
            hooked.join(parent, hooked.comp == parent.p_id, "left")
            .select(
                "id",
                "old_comp",
                F.coalesce("p_comp", "comp").alias("comp"),
            )
            .coalesce(p)
            .transform(materialize, lazy=True)
        )
        labels = nxt.select("id", "comp")
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            # old_comp rides along, so the fixpoint check is a filter
            # over the checkpoint being materialized — no extra join.
            # NOTE: detects "this round changed nothing"; a no-op
            # round implies the fixpoint regardless of whether the
            # PREVIOUS (uncounted) round also changed nothing.
            changed = nxt.filter(F.col("comp") != F.col("old_comp")).count()
            if changed == 0:
                break
    else:
        # Partially-merged labels are silently wrong downstream; the
        # caller cannot detect non-convergence from the frame itself.
        raise RuntimeError(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter"
        )
    return labels.select("id", "comp")


def label_blocked_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components when every edge stays INSIDE one block key
    — the shape every blocked dedup pipeline here produces (minhash
    bands, simhash bands, embedding label blocks): a pair generator
    that never emits cross-block pairs cannot create cross-block
    edges, so the transitive closure decomposes exactly per block.

    ``nodes``: (id long, label); ``edges``: (label, a long, b long).
    Returns (id, comp) with comp = min member id, like
    ``connected_components`` — but with ZERO global fixpoint rounds:
    one cogrouped shuffle on label, then a per-block union-find
    (smaller-root-wins, so the root of every set is its min id) inside
    ``applyInPandas``.  The iterative loop spent O(log n) × several
    shuffle latencies per query (~6 s of pure round overhead at small
    SF); this is one exchange at any SF.

    Scale: parallelism = #blocks; per-task memory = one block's nodes
    + its above-threshold edges (output-bound, same bound as the pair
    query itself).  A genuinely cross-block edge set still needs the
    general ``connected_components`` loop above.
    """
    import pandas as pd

    def cc(key, nodes_pdf, edges_pdf):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(edges_pdf["a"], edges_pdf["b"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                # smaller root wins ⇒ every set's root is its min id
                parent[rb] = ra
        ids = nodes_pdf["id"].astype("int64")
        return pd.DataFrame({"id": ids, "comp": [find(int(i)) for i in ids]})

    return (
        nodes.groupBy("label")
        .cogroup(edges.groupBy("label"))
        .applyInPandas(cc, "id long, comp long")
    )


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    ),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    reach(src, dst) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a
    )
    SELECT src AS vec_id, min(dst) AS component
    FROM reach
    GROUP BY src
    """,
)
def q_dedup_clusters(spark, sf_dir: str) -> DataFrame:
    """Near-dup clusters over embeddings: cosine-≥0.25 pairs (the
    q_similarity_pairs_threshold edge set, scored by the shared
    per-cell GEMM) closed transitively into components.

    The closure runs on exact-duplicate REPRESENTATIVES only
    (rep_pair_sims): expanding dup groups into member-pair edges first
    grows the edge list d²-fold and OOMed the edge checkpoint at a
    100× replicated probe.  Identical non-zero vectors are mutually
    cosine-1.0, so every member inherits its rep's component
    (component ids are unchanged: each rep is already the min vec_id
    of its group).  Zero vectors have undefined cosine — no edges —
    so members of a zero-vector group stay singleton components, as
    in the oracle.

    The oracle computes the same closure by recursive CTE (reach =
    transitive closure, component = min reachable id) — fine at
    oracle SF, quadratic in component size at scale, which is exactly
    why the engine side uses O(log n)-round hooking + shortcutting.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    grp, rep_sims = rep_pair_sims(emb, threshold=0.25)
    # Edges are label-blocked by construction (the pair engine never
    # emits cross-label pairs), so the closure runs per label block —
    # no global fixpoint loop (see label_blocked_components).
    edges = rep_sims.select(
        "label", F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    nodes = grp.select(F.col("rep").alias("id"), "label")
    rep_labels = label_blocked_components(nodes, edges)
    members = grp.select(
        "rep",
        F.explode("ids").alias("vec_id"),
        (~F.exists("v", lambda x: x != 0)).alias("is_zero"),
    )
    return members.join(rep_labels, members.rep == rep_labels.id).select(
        "vec_id",
        F.when(F.col("is_zero"), F.col("vec_id"))
        .otherwise(F.col("comp"))
        .alias("component"),
    )


@query(
    "q_dedup_cluster_sizes",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    ),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    reach(src, dst) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a
    ),
    comp AS (
        SELECT src AS vec_id, min(dst) AS component FROM reach GROUP BY src
    ),
    sizes AS (
        SELECT component, count(*) AS sz FROM comp GROUP BY component
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
    """,
)
def q_dedup_cluster_sizes(spark, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup report every
    curation run publishes (how much of the corpus is singletons vs
    giant near-dup families; the retention ratio is Σ n_clusters /
    Σ size×n_clusters).

    Two tiny aggregations over the q_dedup_clusters closure: component
    sizes, then the size histogram — both shuffle rows proportional to
    |components| and |distinct sizes|, negligible next to the closure
    itself at any scale.
    """
    comp = q_dedup_clusters(spark, sf_dir)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("sz"))
        .groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(F.count("*").alias("n_clusters"))
    )


@query(
    "q_graph_pagerank",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT cust AS src, supp + 1099511627776 AS dst FROM pairs
        UNION ALL
        SELECT supp + 1099511627776 AS src, cust AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM deg),
    r1 AS (
        SELECT e.dst AS node,
               round(0.15 / n.n_nodes
                     + 0.85 * sum((1.0 / n.n_nodes) / deg.d), 12) AS r
        FROM edges e JOIN deg ON e.src = deg.src, n
        GROUP BY e.dst, n.n_nodes
    ),
    r2 AS (
        SELECT e.dst AS node,
               round(0.15 / n.n_nodes + 0.85 * sum(r1.r / deg.d), 6) AS rank
        FROM edges e
        JOIN deg ON e.src = deg.src
        JOIN r1  ON e.src = r1.node, n
        GROUP BY e.dst, n.n_nodes
    )
    SELECT node, rank FROM r2
    ORDER BY rank DESC, node
    LIMIT 20
    """,
)
def q_graph_pagerank(spark, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank iterations (d=0.85) over the
    customer↔supplier trading graph (distinct pairs from
    orders ⋈ lineitem; supplier ids offset by 2^40 into their own node-id
    range — disjoint from customer keys at any plausible scale
    factor, not just the fixture's), top-20 nodes — the influence-ranking companion to
    q_dedup_clusters' connected components, and the canonical
    iterative-join workload.

    Shape per iteration: ranks ⋈ out-degrees ⋈ edges, then a
    map-side-combined sum per destination — the SAME
    hash-partitioning on the join key carries through both
    iterations, so each round is one shuffle of |E| contribution
    rows.  Unrolled to a fixed 2 iterations to stay SQL-expressible
    for the oracle; the open-ended fixpoint form would ``materialize``
    each round's ranks.
    Cross-engine FP discipline: per-node contribution sums are
    order-nondeterministic, so iteration 1 rounds at 12 dp and the
    final rank at 6 dp in BOTH engines — rounding between iterations
    prevents error compounding across the unroll.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionAll(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n = deg.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))

    def iterate(ranks: DataFrame, dp: int, out_col: str) -> DataFrame:
        """ranks(node, r) -> next ranks at dst, rounded to dp."""
        contrib = (
            edges.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .crossJoin(F.broadcast(n))
        )
        return contrib.groupBy(F.col("dst").alias("node"), "n_nodes").agg(
            F.round(
                0.15 / F.col("n_nodes")
                + 0.85 * F.sum(F.col("r") / F.col("d")),
                dp,
            ).alias(out_col)
        ).select("node", F.col(out_col))

    r0 = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), (1.0 / F.col("n_nodes")).alias("r")
    )
    r1 = iterate(r0, 12, "r")
    r2 = iterate(r1, 6, "rank")
    return r2.orderBy(F.desc("rank"), "node").limit(20)


def _copurchase_triangle_counts(spark, sf_dir: str):
    """Shared engine for the triangle family: build the part
    co-purchase graph, degree-orient it, enumerate-and-close wedges,
    and return ``(deg, counts)`` — the |V|-row degree table and the
    per-node triangle counts (nodes in no triangle absent).  See
    q_graph_triangles for the algorithm and plan-shape discussion;
    q_graph_clustering_coef composes the same frames into the ratio
    metric, so both queries provably run one plan."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    und = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        # |E| rows feed FIVE downstream consumers (two degree scans,
        # the orientation join, both wedge sides via oriented) — without
        # truncation Catalyst replays the distinct self-join for each.
        .transform(materialize)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # shuffle_hash on every build side below: the probe streams (41M
    # wedges at sf0.1) would otherwise be SORTED for SortMergeJoin —
    # the dominant cost (8.4 s → 5.9 s measured at local[32]).  The
    # hash builds are the PARTITIONED small sides (|V| degree rows,
    # |E| oriented edges), so per-task build memory is size/partitions
    # — scale-safe where a broadcast of |E| would not be; SMJ remains
    # Spark's own fallback if a build partition ever exceeds memory.
    ed = (
        und.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")).hint(
                "shuffle_hash"
            ),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")).hint(
                "shuffle_hash"
            ),
            "v",
        )
    )
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lt, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    ).transform(materialize)  # consumed 3× (both wedge sides + the closing join)
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2").hint("shuffle_hash"),
            (F.col("e1.src") == F.col("e2.src"))
            & (
                (F.col("e1.dd") < F.col("e2.dd"))
                | (
                    (F.col("e1.dd") == F.col("e2.dd"))
                    & (F.col("e1.dst") < F.col("e2.dst"))
                )
            ),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    tris = wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")).hint(
            "shuffle_hash"
        ),
        ["b", "c"],
    )
    # Corner expansion as ONE in-row explode, not a 3-branch union:
    # tris has no exchange at its top, so union branches are three
    # full re-executions of the wedge join + closing join (the two
    # most expensive joins in the engine — ReuseExchange only shares
    # identical *exchanges*, and these branches project different
    # columns straight into the union).  explode(array(a, b, c))
    # emits the same 3 corner rows per triangle in a single pass
    # (r12: 3 wedge-join executions → 1; same groupBy counts).
    corners = tris.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    counts = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return deg, counts


@query(
    "q_graph_triangles",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    und AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY node
    ),
    ed AS (
        SELECT und.u, und.v, du.d AS du, dv.d AS dv
        FROM und
        JOIN deg du ON und.u = du.node
        JOIN deg dv ON und.v = dv.node
    ),
    oriented AS (
        SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS src,
               CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS dst,
               CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dd
        FROM ed
    ),
    wedges AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM oriented e1
        JOIN oriented e2
          ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
    ),
    tris AS (
        SELECT a, b, c
        FROM wedges JOIN oriented o ON wedges.b = o.src AND wedges.c = o.dst
    ),
    corners AS (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """,
)
def q_graph_triangles(spark, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (top-20) over the part co-purchase
    graph (parts sharing an order, distinct undirected edges) — the
    clustering-coefficient / community-density companion to
    q_graph_pagerank, and the classic "curse of the last reducer"
    workload (Suri & Vassilvitskii, WWW'11).

    The naive wedge enumeration is Σ deg(v)² — a hub part in every
    order makes one reducer quadratic.  The fix is DEGREE ORIENTATION
    (Schank-Wagner / the MR node-iterator++): rank nodes by
    (degree, id), point every undirected edge at its HIGHER-ranked
    endpoint, and enumerate wedges only from each node's out-edges.
    Out-degree is then ≤ √(2m), wedge count O(m^{3/2}) — a worst-case
    bound that no skew can break, which is the whole 100 TB story.
    Each triangle {x,y,z} (ranked x<y<z) is found exactly once as the
    wedge (x→y, x→z) closed by the oriented edge y→z.

    Plan shape: one self-join of the oriented edge list on src
    (wedges), one equi-join of wedges against the edge list on the
    closing pair — both plain hash joins Catalyst can AQE-plan — then
    a corner-union groupBy whose map-side combine collapses counts
    before the final |V|-sized shuffle.  No global window, no rank
    over a single partition: the (deg, id) total order is evaluated
    as a lexicographic comparison inside the join conditions, so the
    orientation costs two broadcast-or-shuffle joins against the
    |V|-row degree table instead of a driver-side sort.
    """
    _deg, counts = _copurchase_triangle_counts(spark, sf_dir)
    return counts.orderBy(F.desc("n_triangles"), "node").limit(20)


@query(
    "q_graph_clustering_coef",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    und AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY node
    ),
    ed AS (
        SELECT und.u, und.v, du.d AS du, dv.d AS dv
        FROM und
        JOIN deg du ON und.u = du.node
        JOIN deg dv ON und.v = dv.node
    ),
    oriented AS (
        SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS src,
               CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS dst,
               CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dd
        FROM ed
    ),
    wedges AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM oriented e1
        JOIN oriented e2
          ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
    ),
    tris AS (
        SELECT a, b, c
        FROM wedges JOIN oriented o ON wedges.b = o.src AND wedges.c = o.dst
    ),
    corners AS (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ),
    counts AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY node
    )
    SELECT deg.node,
           COALESCE(counts.n_triangles, 0) AS n_triangles,
           deg.d AS degree,
           floor(2.0 * COALESCE(counts.n_triangles, 0)
                 / (deg.d * (deg.d - 1)) * 1000000 + 0.5) / 1000000.0
               AS clustering_coef
    FROM deg LEFT JOIN counts ON deg.node = counts.node
    WHERE deg.d >= 2
    ORDER BY clustering_coef DESC, deg.node
    LIMIT 20
    """,
)
def q_graph_clustering_coef(spark, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (Watts-Strogatz) per node, top-20:
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each part's
    co-purchase neighborhood is to a clique, the standard community-
    density metric on top of the triangle counts.

    Composes _copurchase_triangle_counts (the SAME degree-oriented
    wedge plan as q_graph_triangles — shared engine, so both queries
    provably run identical graph work) with one left join of the
    |V|-row degree table against the triangle counts: nodes in no
    triangle keep cc = 0 via the left join, degree-1 nodes (undefined
    denominator) are excluded.  The ratio is a multi-row integer
    quotient → HALF_UP at 6 dp in both dialects, top-20 ranked on the
    rounded value (registry cross-engine discipline).
    """
    from i3cols_spark.functions.rounding import round_half_up

    deg, counts = _copurchase_triangle_counts(spark, sf_dir)
    return (
        deg.where(F.col("d") >= 2)
        .join(counts, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.col("d").cast("long").alias("degree"),
            round_half_up(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coef"),
        )
        .orderBy(F.desc("clustering_coef"), "node")
        .limit(20)
    )


@query(
    "q_graph_cooccurrence",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    pc AS (
        SELECT a.p AS part_a, b.p AS part_b,
               CAST(count(*) AS BIGINT) AS common_orders
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= 2
    ),
    nc AS (
        SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY p
    )
    SELECT part_a, part_b, common_orders,
           floor(CAST(common_orders AS DOUBLE)
                 / (na.n + nb.n - common_orders) * 1000000 + 0.5) / 1000000.0
               AS jaccard
    FROM pc
    JOIN nc na ON pc.part_a = na.p
    JOIN nc nb ON pc.part_b = nb.p
    ORDER BY jaccard DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_graph_cooccurrence(spark, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity over the order/part bipartite
    graph — the collaborative-filtering primitive ("parts bought
    together"): Jaccard of the two parts' order sets, support-filtered,
    top-20.

    The scale insight is that the BIPARTITE projection sidesteps the
    Σdeg² wedge explosion a unipartite common-neighbor count pays:
    common orders come straight from the per-order pair expansion
    (Σ_orders C(parts_per_order, 2) rows — bounded by the small order
    width, NOT by part popularity), map-side-combined into per-pair
    support before anything wide shuffles.  A hub part in a million
    orders costs a million wedge CENTERS in the naive formulation but
    only its per-order pair rows here.  The support filter (HAVING ≥2)
    is pushed into the aggregate, so the jaccard join only sees
    recurring pairs.  Jaccard = c/(n_a+n_b-c) is a multi-row integer
    ratio → HALF_UP at 6 dp in both dialects (functions/rounding.py),
    and the top-20 orders on the ROUNDED value so both engines rank
    identically.
    """
    from i3cols_spark.functions.rounding import round_half_up

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    pc = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common_orders"))
        .where(F.col("common_orders") >= 2)
    )
    nc = op.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    joined = (
        pc.join(nc.select(F.col("p").alias("part_a"), F.col("n").alias("na")), "part_a")
        .join(nc.select(F.col("p").alias("part_b"), F.col("n").alias("nb")), "part_b")
    )
    return (
        joined.select(
            "part_a",
            "part_b",
            "common_orders",
            round_half_up(
                F.col("common_orders").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common_orders")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "q_basket_assoc_rules",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    pc AS (
        SELECT a.p AS part_a, b.p AS part_b,
               CAST(count(*) AS BIGINT) AS c
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= 2
    ),
    rules AS (
        SELECT part_a AS antecedent, part_b AS consequent, c FROM pc
        UNION ALL
        SELECT part_b, part_a, c FROM pc
    ),
    nc AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY p),
    tot AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM op)
    SELECT antecedent, consequent, c AS common_orders,
           floor(CAST(c AS DOUBLE) / n_baskets * 1000000 + 0.5)/1000000.0 AS support,
           floor(CAST(c AS DOUBLE) / na.n * 1000000 + 0.5)/1000000.0 AS confidence,
           floor(CAST(c AS DOUBLE) * n_baskets / (na.n * nb.n) * 1000000 + 0.5)/1000000.0 AS lift
    FROM rules
    JOIN nc na ON rules.antecedent = na.p
    JOIN nc nb ON rules.consequent = nb.p
    CROSS JOIN tot
    ORDER BY lift DESC, confidence DESC, antecedent, consequent
    LIMIT 20
    """,
)
def q_basket_assoc_rules(spark, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (Agrawal & Srikant 1994,
    the 2-itemset case): directional rules a→b with support c/N,
    confidence c/n_a and lift c·N/(n_a·n_b), support-floored and
    top-20 by (lift, confidence) — the recommendation form of the
    symmetric similarity q_graph_cooccurrence computes.  Same
    scale-safe skeleton: the per-order pair expansion is bounded by
    basket width (never by item popularity), pairs are map-side-
    combined into per-pair support BEFORE anything wide shuffles, the
    support floor prunes inside the aggregate, and only the ~|frequent
    pairs| survive to the marginals join; the basket total is a 1-row
    broadcast.  Directionality is a pairs-sized union (a→b and b→a
    share one counted pair), not a second expansion.  All three
    measures are multi-row integer ratios → HALF_UP 6 dp in both
    dialects, and the rank orders on rounded values with
    (antecedent, consequent) tie-breaks so both engines cut the same
    top-20.
    """
    from i3cols_spark.functions.rounding import round_half_up

    pc0, nc, tot = _assoc_rule_parts(spark, sf_dir)
    pc = pc0.where(F.col("c") >= 2)
    rules = pc.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "c",
    ).unionAll(
        pc.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "c",
        )
    )
    joined = (
        rules
        .join(nc.select(F.col("p").alias("antecedent"), F.col("n").alias("na")),
              "antecedent")
        .join(nc.select(F.col("p").alias("consequent"), F.col("n").alias("nb")),
              "consequent")
        .crossJoin(F.broadcast(tot))
    )
    cd = F.col("c").cast("double")
    return (
        joined.select(
            "antecedent",
            "consequent",
            F.col("c").alias("common_orders"),
            round_half_up(cd / F.col("n_baskets"), 6).alias("support"),
            round_half_up(cd / F.col("na"), 6).alias("confidence"),
            round_half_up(
                cd * F.col("n_baskets") / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("confidence"), "antecedent", "consequent")
        .limit(20)
    )


#: Relative minimum support for q_basket_assoc_rules_rel, as a basket
#: fraction (Apriori's native parameterization).  Calibrated to the
#: fixture: random co-purchases make true associations rare, so 1e-5
#: ("10 per million baskets") keeps the realized floor at 2 across
#: the test SFs while scaling with ANY growth mode.
_ASSOC_MINSUP_FRAC = 1e-5


def _assoc_rule_parts(spark, sf_dir: str):
    """Shared skeleton of the assoc-rules twins: per-order basket SETS
    in one aggregation → IN-ROW pair expansion (basket-width-bounded)
    → map-side-combined per-pair support.  The round-7 form
    self-joined the distinct pairs on orderkey, which re-evaluates the
    distinct lineage once per join side; collecting baskets first
    shuffles the pass exactly once and expands pairs without a join —
    measured 2.7× → 1.3× on the x10 replication probe.  The r12 form
    additionally folds the separate ``distinct()`` pre-pass into the
    basket aggregation itself (``collect_set`` dedupes in the
    aggregate; the distinct exchange on (orderkey, partkey) that fed
    the basket exchange on orderkey is gone — guide §2.4), and the
    marginals/total derive from the SAME basket lineage instead of a
    second distinct pass: nc explodes the per-order sets (each (o, p)
    appears exactly once, so the count per p equals the distinct-pair
    count), tot counts basket rows (= countDistinct orderkey).  The
    set array is sorted so the in-row combinations emit
    part_a < part_b, matching the oracle's ``a.p < b.p``.  Returns
    ``(pc, nc, tot)``."""
    from i3cols_spark.functions.arrays import pair_structs

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    pc = (
        baskets.select(F.explode(pair_structs(F.col("items"))).alias("pr"))
        .groupBy(
            F.col("pr.doc_a").alias("part_a"),
            F.col("pr.doc_b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nc = (
        baskets.select(F.explode("items").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    return pc, nc, tot


@query(
    "q_basket_assoc_rules_rel",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    tot AS (
        SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM op
    ),
    flr AS (
        SELECT n_baskets,
               greatest(
                   2,
                   CAST(ceil(CAST({_ASSOC_MINSUP_FRAC} AS DOUBLE) * n_baskets)
                        AS BIGINT)
               ) AS min_count
        FROM tot
    ),
    pc AS (
        SELECT a.p AS part_a, b.p AS part_b,
               CAST(count(*) AS BIGINT) AS c
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    fp AS (
        SELECT part_a, part_b, c FROM pc CROSS JOIN flr
        WHERE c >= min_count
    ),
    rules AS (
        SELECT part_a AS antecedent, part_b AS consequent, c FROM fp
        UNION ALL
        SELECT part_b, part_a, c FROM fp
    ),
    nc AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY p)
    SELECT antecedent, consequent, c AS common_orders,
           flr.min_count,
           floor(CAST(c AS DOUBLE) / n_baskets * 1000000 + 0.5)/1000000.0 AS support,
           floor(CAST(c AS DOUBLE) / na.n * 1000000 + 0.5)/1000000.0 AS confidence,
           floor(CAST(c AS DOUBLE) * n_baskets / (na.n * nb.n) * 1000000 + 0.5)/1000000.0 AS lift
    FROM rules
    JOIN nc na ON rules.antecedent = na.p
    JOIN nc nb ON rules.consequent = nb.p
    CROSS JOIN flr
    ORDER BY lift DESC, confidence DESC, antecedent, consequent
    LIMIT 20
    """,
)
def q_basket_assoc_rules_rel(spark, sf_dir: str) -> DataFrame:
    """Association rules with a RELATIVE minimum support — the floor
    is ``max(2, ceil(frac · n_baskets))``, Apriori's native
    parameterization: the absolute-floor twin
    (q_basket_assoc_rules) stops pruning under data growth — the x10
    replication probe multiplies every pair count ×10, so ``c ≥ 2``
    keeps ALL 1.2M pairs and the marginals join + rank blow up 3.6×
    — while a basket-fraction floor scales with N and keeps the
    survivor set proportional (measured: identical survivor count at
    x1 and x10).  The absolute lower bound of 2 is the production
    hybrid: relative support governs at scale, but a single
    co-occurrence is never a rule.

    The realized floor is emitted as ``min_count`` so the scaling
    arithmetic itself (double product → ceil → greatest, identical
    IEEE ops in both engines — the fraction literal is CAST to DOUBLE
    in the oracle because DuckDB parses bare decimals as DECIMAL) is
    value-hash-checked, not just the surviving rules.

    Plan: identical scale-safe skeleton as the absolute twin, with
    the 1-row basket total broadcast into the pair aggregate's filter
    (a HAVING against a scalar, not a second pass).
    """
    from i3cols_spark.functions.rounding import round_half_up

    pc, nc, tot = _assoc_rule_parts(spark, sf_dir)
    flr = tot.select(
        "n_baskets",
        F.greatest(
            F.lit(2).cast("long"),
            F.ceil(F.lit(_ASSOC_MINSUP_FRAC) * F.col("n_baskets")).cast("long"),
        ).alias("min_count"),
    )
    fp = pc.crossJoin(F.broadcast(flr)).where(F.col("c") >= F.col("min_count"))
    rules = fp.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "c",
        "n_baskets",
        "min_count",
    ).unionAll(
        fp.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "c",
            "n_baskets",
            "min_count",
        )
    )
    joined = (
        rules
        .join(nc.select(F.col("p").alias("antecedent"), F.col("n").alias("na")),
              "antecedent")
        .join(nc.select(F.col("p").alias("consequent"), F.col("n").alias("nb")),
              "consequent")
    )
    cd = F.col("c").cast("double")
    return (
        joined.select(
            "antecedent",
            "consequent",
            F.col("c").alias("common_orders"),
            "min_count",
            round_half_up(cd / F.col("n_baskets"), 6).alias("support"),
            round_half_up(cd / F.col("na"), 6).alias("confidence"),
            round_half_up(
                cd * F.col("n_baskets") / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("confidence"), "antecedent", "consequent")
        .limit(20)
    )


def _trading_edges(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The customer↔supplier trading graph shared by BFS and LPA:
    ``pairs`` = distinct (cust, supp) from orders ⋈ lineitem, supplier
    ids offset by ``_SUPP_OFFSET``; ``edges`` = (src, dst) in both
    directions, materialised lazily because every round reads it."""
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("cust")
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("supp")
    )
    pairs = (
        orders.join(li, "ok")
        .select("cust", (F.col("supp") + _SUPP_OFFSET).alias("supp"))
        .distinct()
    )
    edges = materialize(
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .union(pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))),
        lazy=True,
    )
    return pairs, edges


#: Hop bound for q_graph_bfs_levels — covers the full trading-graph
#: reach from the seed at fixture scale (level 3 still finds new
#: suppliers) while keeping the oracle's recursive CTE bounded.
_BFS_HOPS = 3


@query(
    "q_graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT cust AS src, supp + 1099511627776 AS dst FROM pairs
        UNION ALL
        SELECT supp + 1099511627776 AS src, cust AS dst FROM pairs
    ),
    seeds AS (SELECT min(cust) AS node FROM pairs),
    bfs(node, level) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.dst, b.level + 1
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.level < {_BFS_HOPS}
    )
    SELECT node, CAST(min(level) AS BIGINT) AS level
    FROM bfs GROUP BY node
    """,
)
def q_graph_bfs_levels(spark, sf_dir: str) -> DataFrame:
    """Breadth-first frontier expansion: hop distance from the
    smallest customer over the same customer↔supplier trading graph
    as q_graph_pagerank (supplier ids offset by 2^40), every reached
    node with its MIN level.  This is the iterative-frontier primitive
    (reachability, ego-networks, influence radius) that PageRank's
    fixed-iteration unrolling and connected components' pointer
    jumping don't exercise: per-round work is frontier-sized, not
    graph-sized, and rounds = eccentricity, not log n.  The DuckDB
    oracle is the textbook recursive CTE with UNION dedup, so the
    Spark loop's visited-set semantics are value-hash-checked.

    Shape per hop: frontier ⋈ edges (hash join keyed on node — the
    same partitioning reused every round), distinct on the new
    frontier, anti-join against the visited set so no node is
    re-expanded — per-round shuffle is |frontier expansion|, and the
    visited set grows monotonically to |reachable| exactly once.
    Each frontier is lazily ``materialize``d: it is consumed twice
    (union + next hop) and the plan would otherwise double per level.
    At 100 TB the loop is driver-side only in its CONTROL (a fixed hop
    bound, no per-round count job); all data stays distributed.
    """
    pairs, edges = _trading_edges(spark, sf_dir)
    visited = pairs.agg(F.min("cust").alias("node")).select(
        "node", F.lit(0).cast("long").alias("level")
    )
    frontier = visited.select("node")
    for lvl in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(lvl).cast("long").alias("level"))
            .transform(materialize, lazy=True)
        )
        visited = visited.union(nxt)
        frontier = nxt.select("node")
    return visited


def _sssp_relax(frontier: DataFrame, edges: DataFrame) -> DataFrame:
    """One Bellman-Ford relaxation: frontier ⋈ edges on the node key
    (hash join — never a BNLJ), candidates min-combined per node
    (partial+final hash aggregate, so per-task output ≤ |touched
    nodes| before the shuffle).  Factored out so the per-round plan
    is testable — inside q_graph_sssp every round's result is
    ``materialize``d, which makes the loop's joins invisible in the
    final explain."""
    return (
        frontier.join(edges, frontier.node == edges.src)
        .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        .groupBy("node")
        .agg(F.min("d").alias("d"))
    )


#: Bounded-hop Bellman-Ford horizon: distances are DEFINED as the
#: cheapest path of ≤ 4 edges (the BFS-levels discipline — the hop
#: bound is the semantics, not a convergence heuristic, so both
#: engines compute the identical well-defined quantity even where the
#: unbounded shortest path would need more hops).
_SSSP_HOPS = 4


@query(
    "q_graph_sssp",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT o.o_custkey AS cust, l.l_suppkey + 1099511627776 AS supp,
               CAST(count(*) AS BIGINT) AS n_links
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT cust AS src, supp AS dst, 11 - least(n_links, 10) AS w
        FROM pairs
        UNION ALL
        SELECT supp AS src, cust AS dst, 11 - least(n_links, 10) AS w
        FROM pairs
    ),
    seeds AS (SELECT min(cust) AS node FROM pairs),
    walk(node, d, hops) AS (
        SELECT node, 0, 0 FROM seeds
        UNION
        SELECT e.dst, w.d + e.w, w.hops + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hops < {_SSSP_HOPS}
    )
    SELECT node, CAST(min(d) AS BIGINT) AS dist
    FROM walk GROUP BY node
    """,
)
def q_graph_sssp(spark, sf_dir: str) -> DataFrame:
    """Single-source WEIGHTED shortest paths (bounded-hop
    Bellman-Ford) over the customer↔supplier trading graph — the
    weighted sibling of q_graph_bfs_levels: edge cost
    11 − min(n_links, 10) makes frequently-trading pairs cheap, so
    the cheapest route is NOT the fewest-hop route (at sf0.01 the
    2-hop distance spread is 10–25, far from 2× a unit cost) and a
    plain BFS would return wrong distances.  Costs are small
    integers, so path sums are exact in both engines and the DuckDB
    recursive-CTE oracle (UNION-deduped (node, d, hops) states,
    tractable precisely BECAUSE bounded weights cap the distinct-sum
    space per node at 10·hops) value-hash-checks every node's
    distance.

    Spark loop = delta relaxation: each round joins only the frontier
    (nodes whose tentative distance IMPROVED last round) to the edge
    list, min-combines candidates into the running distance map, and
    the new frontier is the anti-joined improvement set — per-round
    shuffle is |improvements|, not |graph|, the same frontier-sized
    property as BFS.  Each round's map is lazily ``materialize``d (it
    feeds both the next relaxation and the final answer, and the
    lineage would otherwise double per hop).  Loop control is
    driver-side ONLY in the fixed hop bound — no per-round count job;
    all data stays distributed.  At 100 TB:
    rounds = the hop horizon, per-round cost frontier ⋈ edges hash
    join on the reused node key.
    """
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("cust")
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("supp")
    )
    pairs = (
        orders.join(li, "ok")
        .groupBy(
            "cust", (F.col("supp") + _SUPP_OFFSET).alias("supp")
        )
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    w = F.lit(11) - F.least(F.col("n_links"), F.lit(10))
    edges = (
        pairs.select(
            F.col("cust").alias("src"), F.col("supp").alias("dst"), w.alias("w")
        )
        .union(
            pairs.select(
                F.col("supp").alias("src"),
                F.col("cust").alias("dst"),
                w.alias("w"),
            )
        )
        .transform(materialize, lazy=True)
    )
    dist = (
        pairs.agg(F.min("cust").alias("node"))
        .select("node", F.lit(0).cast("long").alias("d"))
        .transform(materialize, lazy=True)
    )
    frontier = dist
    for _ in range(_SSSP_HOPS):
        cand = _sssp_relax(frontier, edges)
        merged = (
            dist.union(cand)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .transform(materialize, lazy=True)
        )
        frontier = materialize(merged.join(dist, ["node", "d"], "left_anti"), lazy=True)
        dist = merged
    return dist.select("node", F.col("d").alias("dist"))


@query(
    "q_graph_assortativity",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pc AS (
      SELECT a.p AS pa, b.p AS pb
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 2
    ),
    deg AS (
      SELECT p, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT pa AS p FROM pc UNION ALL SELECT pb FROM pc
      ) GROUP BY p
    ),
    ends AS (
      SELECT da.d AS dx, db.d AS dy FROM pc
      JOIN deg da ON pc.pa = da.p JOIN deg db ON pc.pb = db.p
      UNION ALL
      SELECT db.d, da.d FROM pc
      JOIN deg da ON pc.pa = da.p JOIN deg db ON pc.pb = db.p
    )
    SELECT round(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 6)
               AS assortativity,
           CAST(count(*) / 2 AS BIGINT) AS n_edges,
           round(avg(CAST(dx AS DOUBLE)), 6) AS mean_degree
    FROM ends
    """,
)
def q_graph_assortativity(spark, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the co-purchase graph:
    Pearson correlation of endpoint degrees over the (symmetrized)
    edge list — do popular parts co-occur with popular parts
    (assortative, social-network-like) or with obscure ones
    (disassortative, hub-and-spoke)?  The one-number structural
    summary that, with q_graph_clustering_coef and the triangle
    counts, pins the graph family's topology; this fixture's
    co-purchase graph sits at ≈ −0.01 — random-mixing, as synthetic
    baskets should.

    Shape: edges come from the same support-floored per-order pair
    expansion as q_graph_cooccurrence (bounded by basket width);
    degrees are one map-side-combined count over edge endpoints; the
    statistic is corr() over the degree-joined edge list, symmetrized
    by a pairs-sized union (an undirected edge contributes both
    orientations — the standard convention, making corr's two
    marginals identical).  Degrees are exact integers; corr rounds at
    6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up  # noqa: F401

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    pc = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("pa", "pb")
    )
    deg = (
        pc.select(F.col("pa").alias("p"))
        .unionAll(pc.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    joined = (
        pc.join(deg.select(F.col("p").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("p").alias("pb"), F.col("d").alias("db")), "pb")
    )
    ends = joined.select(
        F.col("da").alias("dx"), F.col("db").alias("dy")
    ).unionAll(joined.select(F.col("db").alias("dx"), F.col("da").alias("dy")))
    return ends.agg(
        F.round(F.corr(F.col("dx").cast("double"), F.col("dy").cast("double")), 6)
        .alias("assortativity"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        F.round(F.avg(F.col("dx").cast("double")), 6).alias("mean_degree"),
    )


#: k-core parameters: the degree floor (chosen against the fixture's
#: co-purchase degree profile — median 115 at sf0.01, so the floor
#: bites without emptying the graph) and the FIXED peeling-round
#: budget (the scale knob: each round is one degree aggregate + two
#: semi-joins; production picks rounds like an iteration budget, and
#: the convergence test asserts the fixture reaches its true k-core
#: inside it).
_KCORE_K = 110
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    parts = [
        """e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b
          ON a.o = b.o AND a.p < b.p
    )"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""n{r} AS MATERIALIZED (
        SELECT node FROM (
            SELECT u AS node FROM e{r-1} UNION ALL SELECT v AS node FROM e{r-1}
        ) ends GROUP BY node HAVING count(*) >= {_KCORE_K}
    )"""
        )
        parts.append(
            f"""e{r} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{r-1} e
        JOIN n{r} a ON e.u = a.node
        JOIN n{r} b ON e.v = b.node
    )"""
        )
    selects = [
        "SELECT CAST(0 AS BIGINT) AS round, "
        "(SELECT CAST(count(*) AS BIGINT) FROM "
        "(SELECT u AS node FROM e0 UNION SELECT v AS node FROM e0) z) AS n_nodes, "
        "(SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges"
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM n{r}) AS n_nodes, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        )
    return (
        "WITH " + ",\n    ".join(parts) + "\n    "
        + " UNION ALL ".join(selects) + " ORDER BY round"
    )


@query("q_graph_kcore_peel", oracle=_kcore_oracle())
def q_graph_kcore_peel(spark, sf_dir: str) -> DataFrame:
    """k-core PEELING TRACE over the part co-purchase graph: per
    round, repeatedly drop nodes with degree < k (k = 110) among the
    survivors and keep only edges between survivors — the density
    filter community mining and spam/boilerplate pruning run before
    anything expensive (a node in the k-core has k neighbors IN the
    core, a much stronger signal than raw degree).  The output is the
    TRACE (round, n_nodes, n_edges) rather than the survivor list, so
    the query is never vacuous: at sf0.001 the floor collapses the
    graph to empty (visible in the trace), at sf0.01/0.1 it bites and
    stabilizes — and tests/test_graph.py asserts the final two
    rounds agree at sf0.01, i.e. the FIXED round budget reached the
    true k-core, the same bounded-iteration honesty as the PCA power
    method.

    The oracle unrolls every round as MATERIALIZED CTEs (the PCA
    precedent — DuckDB inlines CTEs by default and would re-evaluate
    the peel exponentially).

    Scale shape: each round is one map-side-combined degree aggregate
    over the surviving edges plus two semi-joins against the
    survivor node set, with the edge set ``materialize``d per round
    (unbounded lineage is the real iterative-algorithm killer); the
    trace rows are 5 scalars.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    e = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .transform(materialize)
    )
    n0 = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .count()
    )
    trace = [(0, n0, e.count())]
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        nodes = deg.filter(F.col("d") >= _KCORE_K).select("node")
        e = (
            e.join(nodes.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(nodes.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .transform(materialize)
        )
        trace.append((r, nodes.count(), e.count()))
    return spark.createDataFrame(
        trace, "round bigint, n_nodes bigint, n_edges bigint"
    ).orderBy("round")


@query(
    "q_graph_link_prediction",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    floor_n AS (
        SELECT greatest(2, CAST(ceil(1e-4 * count(DISTINCT o)) AS BIGINT))
            AS f
        FROM op
    ),
    und AS (
        SELECT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= (SELECT f FROM floor_n)
    ),
    sym AS (
        SELECT u AS z, v AS x FROM und
        UNION ALL
        SELECT v, u FROM und
    ),
    deg AS (
        SELECT z, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY z
    ),
    wedge AS (
        SELECT a.x AS pa, b.x AS pb, CAST(count(*) AS BIGINT) AS n_common
        FROM sym a JOIN sym b ON a.z = b.z AND a.x < b.x
        GROUP BY a.x, b.x
    ),
    cand AS (
        SELECT w.pa, w.pb, w.n_common, da.d AS da, db.d AS db
        FROM wedge w
        JOIN deg da ON w.pa = da.z
        JOIN deg db ON w.pb = db.z
        WHERE NOT EXISTS (
            SELECT 1 FROM und WHERE und.u = w.pa AND und.v = w.pb
        )
    )
    SELECT pa, pb, n_common,
           floor(CAST(n_common AS DOUBLE) / (da + db - n_common)
                 * 1000000 + 0.5) / 1000000.0 AS jaccard,
           CAST(da * db AS BIGINT) AS pref_attach
    FROM cand
    ORDER BY jaccard DESC, pa, pb
    LIMIT 20
    """,
)
def q_graph_link_prediction(spark, sf_dir: str) -> DataFrame:
    """LINK PREDICTION over the REPEAT co-purchase graph (edges =
    part pairs sharing ≥ max(2, ceil(1e-4 · |orders|)) orders — a
    RELATIVE support floor, the q_basket_assoc_rules_rel discipline:
    an absolute ≥2 floor measured 13.7× at the x10 probe because
    replicated orders mint repeat co-purchases by construction, while
    a floor that scales with the corpus keeps the signal graph
    invariant under growth.  The floor is what turns the dense random
    co-purchase projection into a meaningful signal graph): for every
    NON-adjacent part pair reachable in 2 hops, the neighbor-set
    Jaccard (|N(a)∩N(b)| / |N(a)∪N(b)|) and the preferential-
    attachment score (deg·deg) — the two classic exact-arithmetic
    predictors (Liben-Nowell & Kleinberg 2003); top-20 pairs most
    likely to co-occur NEXT.  Differs from q_graph_cooccurrence on
    every axis that matters: unipartite neighbor sets (not bipartite
    order sets), NON-edges only (prediction, not description), and
    2-hop candidate generation.

    Both scores are integer-exact (one integer-ratio HALF_UP division
    for Jaccard, a BIGINT product for PA) — no float summation, so
    no reduction-order hazard (the reason Adamic–Adar's Σ1/ln(deg)
    is NOT emitted: an unordered float sum across engines is exactly
    the divergence class the registry discipline exists to avoid).

    Scale shape: candidate generation IS the wedge space
    (Σ_z C(deg z, 2)) and every wedge is output-bearing, so degree
    orientation cannot shrink it — the EDGE support floor is what
    bounds it instead (measured: the unfloored co-purchase graph has
    148M wedges at sf0.1 and OOMs a vanilla 1g session; the ≥2-order
    repeat graph has 1.4k).  On a graph where strong edges are still
    dense, the further production lever is the standard hub cap
    (drop z with deg > τ — a documented recall trade).  The
    non-adjacency check is one anti-join against the edge list.
    """
    from i3cols_spark.functions.rounding import round_half_up

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    floor_n = op.agg(
        F.greatest(
            F.lit(2),
            F.ceil(F.lit(1e-4) * F.countDistinct("l_orderkey")).cast("bigint"),
        ).alias("edge_floor")
    )
    und = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(floor_n))
        .where(F.col("n_orders") >= F.col("edge_floor"))
        .select("u", "v")
    )
    sym = und.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        und.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # shuffle_hash on every build side: under a vanilla session AQE's
    # size estimates can promote the multi-million-row sym/edge tables
    # to a driver-built broadcast, which is exactly the 1g-heap OOM the
    # driver gate runs with (observed live at sf0.1, round 9); the
    # triangles query established the hint pattern.
    wedge = (
        sym.alias("wa")
        .join(
            sym.alias("wb").hint("shuffle_hash"),
            (F.col("wa.z") == F.col("wb.z")) & (F.col("wa.x") < F.col("wb.x")),
        )
        .groupBy(F.col("wa.x").alias("pa"), F.col("wb.x").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    nonadj = wedge.join(
        und.select(F.col("u").alias("pa"), F.col("v").alias("pb")).hint(
            "shuffle_hash"
        ),
        ["pa", "pb"],
        "left_anti",
    )
    cand = nonadj.join(
        deg.select(F.col("z").alias("pa"), F.col("d").alias("da")).hint(
            "shuffle_hash"
        ),
        "pa",
    ).join(
        deg.select(F.col("z").alias("pb"), F.col("d").alias("db")).hint(
            "shuffle_hash"
        ),
        "pb",
    )
    jaccard = round_half_up(
        F.col("n_common").cast("double")
        / (F.col("da") + F.col("db") - F.col("n_common")),
        6,
    )
    return (
        cand.select(
            "pa",
            "pb",
            "n_common",
            jaccard.alias("jaccard"),
            (F.col("da") * F.col("db")).cast("long").alias("pref_attach"),
        )
        .orderBy(F.desc("jaccard"), "pa", "pb")
        .limit(20)
    )


@query(
    "q_graph_hits",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1r AS (
        SELECT supp, CAST(count(*) AS BIGINT) AS raw
        FROM edges GROUP BY supp
    ),
    a1 AS (
        SELECT supp,
               floor(CAST(raw AS DOUBLE)
                     / (SELECT max(raw) FROM a1r) * 1000000000000 + 0.5)
                   / 1000000000000.0 AS a
        FROM a1r
    ),
    h1r AS (
        SELECT e.cust, round(sum(a1.a), 12) AS raw
        FROM edges e JOIN a1 ON a1.supp = e.supp
        GROUP BY e.cust
    ),
    h1 AS (
        SELECT cust, round(raw / (SELECT max(raw) FROM h1r), 12) AS h
        FROM h1r
    ),
    a2r AS (
        SELECT e.supp, round(sum(h1.h), 12) AS raw
        FROM edges e JOIN h1 ON h1.cust = e.cust
        GROUP BY e.supp
    ),
    a2 AS (
        SELECT supp, round(raw / (SELECT max(raw) FROM a2r), 6) AS s
        FROM a2r
    ),
    h2r AS (
        SELECT e.cust, round(sum(a2.s), 12) AS raw
        FROM edges e JOIN a2 ON a2.supp = e.supp
        GROUP BY e.cust
    ),
    h2 AS (
        SELECT cust, round(raw / (SELECT max(raw) FROM h2r), 6) AS s
        FROM h2r
    ),
    topa AS (
        SELECT 'auth' AS kind, supp AS node, s AS score
        FROM a2 ORDER BY s DESC, supp LIMIT 20
    ),
    toph AS (
        SELECT 'hub' AS kind, cust AS node, s AS score
        FROM h2 ORDER BY s DESC, cust LIMIT 20
    )
    SELECT kind, node, score FROM topa
    UNION ALL
    SELECT kind, node, score FROM toph
    """,
)
def q_graph_hits(spark, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg's hubs-and-authorities) over the DIRECTED
    customer→supplier trading graph — the bipartite companion to
    q_graph_pagerank's undirected rank: customers are hubs (they
    point), suppliers are authorities (they are pointed at).  Two
    full mutual-reinforcement rounds unrolled (a₁ = AᵀΗ₀, h₁ = A a₁,
    a₂ = Aᵀh₁, h₂ = A a₂), top-20 of each side.

    Normalization is by MAX rather than the textbook L1/L2 norm, on
    purpose: max() of a column is order-INDEPENDENT, while Σ over all
    nodes of engine-ordered float sums is not — the same cross-engine
    determinism constraint that shaped q_graph_pagerank, which
    max-normalization satisfies with zero semantic loss (HITS scores
    are defined up to scale; the fixpoint direction is unchanged).
    a₁ is exact integer in-degree over max in-degree (exact-ratio →
    HALF_UP at 12 dp); later rounds round per-node contribution sums
    at 12 dp before each normalize (the pagerank error-compounding
    rule), final scores at 6 dp.

    Shape per half-step: edges ⋈ current scores, map-side-combined
    sum per opposite endpoint — one |E|-row shuffle, the same
    hash-partitioning reused round to round; the max is a 1-row
    broadcast.  The open-ended fixpoint form would ``materialize``
    each round's scores; 2 rounds keeps the oracle SQL-expressible.
    """
    from i3cols_spark.functions.rounding import round_half_up

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        # |E| rows feed all four half-step joins plus the a1 degree
        # aggregate; without truncation each consumer re-runs the
        # orders⋈lineitem distinct (r12: 176-scan / 392-exchange plan).
        .transform(materialize, lazy=True)
    )

    def normalize(raw: DataFrame, key: str, out: str, dp: int, exact: bool) -> DataFrame:
        # Each normalize consumes `raw` TWICE (the 1-row max aggregate
        # and the crossJoin left side), so an untruncated `raw` doubles
        # its whole upstream subtree at every half-step — 2⁴ copies of
        # the edge build by h2 (the r12 plan-size audit).  A lazy
        # |nodes|-row cut per level keeps the plan linear.
        raw = materialize(raw, lazy=True)
        mx = raw.agg(F.max("raw").alias("mx"))
        val = F.col("raw").cast("double") / F.col("mx")
        rounded = round_half_up(val, dp) if exact else F.round(val, dp)
        return raw.crossJoin(F.broadcast(mx)).select(
            F.col(key), rounded.alias(out)
        )

    a1_raw = edges.groupBy("supp").agg(F.count(F.lit(1)).cast("long").alias("raw"))
    a1 = normalize(a1_raw, "supp", "a", 12, exact=True)
    h1_raw = edges.join(a1, "supp").groupBy("cust").agg(
        F.round(F.sum("a"), 12).alias("raw")
    )
    h1 = normalize(h1_raw, "cust", "h", 12, exact=False)
    a2_raw = edges.join(h1, "cust").groupBy("supp").agg(
        F.round(F.sum("h"), 12).alias("raw")
    )
    a2 = normalize(a2_raw, "supp", "s", 6, exact=False)
    h2_raw = edges.join(a2, "supp").groupBy("cust").agg(
        F.round(F.sum("s"), 12).alias("raw")
    )
    h2 = normalize(h2_raw, "cust", "s", 6, exact=False)
    topa = (
        a2.select(
            F.lit("auth").alias("kind"), F.col("supp").alias("node"), F.col("s").alias("score")
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(20)
    )
    toph = (
        h2.select(
            F.lit("hub").alias("kind"), F.col("cust").alias("node"), F.col("s").alias("score")
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(20)
    )
    return topa.unionAll(toph)


@query(
    "q_graph_modularity",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    lab AS (
        SELECT e.cust, e.supp,
               c.c_nationkey AS nc, s.s_nationkey AS ns
        FROM edges e
        JOIN customer c ON c.c_custkey = e.cust
        JOIN supplier s ON s.s_suppkey = e.supp
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
    intra AS (
        SELECT nc AS community, CAST(count(*) AS BIGINT) AS e_c
        FROM lab WHERE nc = ns GROUP BY nc
    ),
    deg AS (
        SELECT community, CAST(sum(d) AS BIGINT) AS deg_c
        FROM (
            SELECT nc AS community, count(*) AS d FROM lab GROUP BY nc
            UNION ALL
            SELECT ns AS community, count(*) AS d FROM lab GROUP BY ns
        )
        GROUP BY community
    ),
    terms AS (
        SELECT d.community,
               coalesce(i.e_c, 0) AS e_c,
               d.deg_c,
               round(CAST(coalesce(i.e_c, 0) AS DOUBLE) / m.m
                     - (CAST(d.deg_c AS DOUBLE) / (2 * m.m))
                       * (CAST(d.deg_c AS DOUBLE) / (2 * m.m)), 9) AS q_term
        FROM deg d LEFT JOIN intra i ON i.community = d.community, m
    )
    SELECT CAST(community AS BIGINT) AS community, e_c, deg_c, q_term,
           round(sum(q_term) OVER (), 6) AS q_modularity
    FROM terms
    ORDER BY community
    """,
)
def q_graph_modularity(spark, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the undirected
    customer↔supplier trading graph — the partition-quality metric
    community detection optimizes, here evaluating the a-priori
    geographic communities: Q = Σ_c [e_c/m − (deg_c/2m)²], emitted
    per community (its intra-community edge count, total degree and
    modularity term) with the global Q as a window sum — the
    decomposition says WHICH communities are denser than chance.

    Shape: one |E|-row edge build (the pagerank/HITS edge set) with
    two dimension joins for endpoint labels (customer/supplier are
    broadcastable dims), then |communities|-row aggregates; the Q
    fold is a window over ≤ |nations| rows.  e_c, deg_c, m are exact
    integers; per-community terms are per-row IEEE on exact inputs →
    rounded 9 dp; the global sum over the tiny community table
    rounds 6 dp (both dialects).
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    lab = (
        edges.join(F.broadcast(cust), edges.cust == cust.c_custkey)
        .join(F.broadcast(supp), edges.supp == supp.s_suppkey)
        .select(F.col("c_nationkey").alias("nc"), F.col("s_nationkey").alias("ns"))
        .transform(materialize)
    )
    m = lab.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (
        lab.filter(F.col("nc") == F.col("ns"))
        .groupBy(F.col("nc").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    deg = (
        lab.select(F.col("nc").alias("community"))
        .unionAll(lab.select(F.col("ns").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("deg_c"))
    )
    q_term = F.round(
        F.coalesce("e_c", F.lit(0)).cast("double") / F.col("m")
        - (F.col("deg_c").cast("double") / (2 * F.col("m")))
        * (F.col("deg_c").cast("double") / (2 * F.col("m"))),
        9,
    )
    from pyspark.sql.window import Window as W

    terms = (
        deg.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("community").cast("long").alias("community"),
            F.coalesce("e_c", F.lit(0).cast("long")).alias("e_c"),
            "deg_c",
            q_term.alias("q_term"),
        )
    )
    return terms.select(
        "community",
        "e_c",
        "deg_c",
        "q_term",
        F.round(F.sum("q_term").over(W.partitionBy()), 6).alias("q_modularity"),
    ).orderBy("community")


@query(
    "q_graph_degree_powerlaw",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (
            SELECT cust AS node FROM pairs
            UNION ALL
            SELECT supp + 1099511627776 AS node FROM pairs
        )
        GROUP BY node
    ),
    hist AS (
        SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY d
    ),
    logs AS (
        SELECT degree, n_nodes,
               ln(CAST(degree AS DOUBLE)) AS lx,
               ln(CAST(n_nodes AS DOUBLE)) AS ly
        FROM hist WHERE degree > 0
    ),
    fit AS (
        SELECT round((avg(lx * ly) - avg(lx) * avg(ly))
                     / (avg(lx * lx) - avg(lx) * avg(lx)), 9) AS slope
        FROM logs
    )
    SELECT l.degree, l.n_nodes, round(f.slope, 6) AS powerlaw_slope
    FROM logs l, fit f
    ORDER BY l.degree
    """,
)
def q_graph_degree_powerlaw(spark, sf_dir: str) -> DataFrame:
    """Degree distribution + power-law slope of the customer↔supplier
    trading graph — the degree histogram with the log-log OLS slope
    broadcast onto every row (q_text_zipf_fit's machinery pointed at
    graph degrees; natural graphs sit near slope −2..−3, and a
    synthetic/bot-inflated edge load flattens it).  The first
    diagnostic a graph pipeline prints: it decides whether skew
    mitigation (salting, AQE skew joins) is even needed downstream.

    Shape: |E|-row degree aggregate → |distinct degrees|-row
    histogram → ≤ |degrees|-row OLS fold: after the first aggregate
    everything is metadata-sized.  Counts are exact integers; ln is
    the only libm surface → fit moments rounded 9 dp, slope 6 dp.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    deg = (
        pairs.select(F.col("cust").alias("node"))
        .unionAll(pairs.select(F.col("supp").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    logs = hist.filter(F.col("degree") > 0).select(
        "degree",
        "n_nodes",
        F.log(F.col("degree").cast("double")).alias("lx"),
        F.log(F.col("n_nodes").cast("double")).alias("ly"),
    )
    fit = logs.agg(
        F.round(
            (F.avg(F.col("lx") * F.col("ly")) - F.avg("lx") * F.avg("ly"))
            / (F.avg(F.col("lx") * F.col("lx")) - F.avg("lx") * F.avg("lx")),
            9,
        ).alias("slope")
    )
    return (
        logs.crossJoin(F.broadcast(fit))
        .select(
            "degree", "n_nodes", F.round(F.col("slope"), 6).alias("powerlaw_slope")
        )
        .orderBy("degree")
    )


#: Synchronous label-propagation rounds.  Like _BFS_HOPS, the round
#: budget IS the semantics: both engines compute the identical
#: well-defined "labels after 4 sync rounds" quantity, so the check
#: needs no convergence tolerance.
_LPA_ROUNDS = 4


def _lpa_round_sql(k: int) -> str:
    return f"""lab{k} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                   ORDER BY cnt DESC, label) AS rn
        FROM (SELECT e.dst AS node, l.label, count(*) AS cnt
              FROM edges e JOIN lab{k - 1} l ON l.node = e.src
              GROUP BY e.dst, l.label))
      WHERE rn = 1
    )"""


_LPA_ROUNDS_SQL = ",\n    ".join(
    _lpa_round_sql(k) for k in range(1, _LPA_ROUNDS + 1)
)


@query(
    "q_graph_label_propagation",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT cust AS src, supp + 1099511627776 AS dst FROM pairs
        UNION ALL
        SELECT supp + 1099511627776 AS src, cust AS dst FROM pairs
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_LPA_ROUNDS_SQL}
    SELECT node, CAST(label AS BIGINT) AS community
    FROM lab{_LPA_ROUNDS}
    ORDER BY node
    """,
)
def q_graph_label_propagation(spark, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    customer↔supplier trading graph (supplier ids offset by 2^40,
    the q_graph_pagerank construction): every node starts as its own
    label; each round every node adopts the most frequent label among
    its neighbors, ties to the SMALLEST label — the classic LPA with
    the deterministic tie-break that makes it engine-checkable.
    After 4 (_LPA_ROUNDS) sync rounds the surviving labels are the
    communities.  Complements the graph family: connected components
    (q_dedup_clusters) finds REACHABILITY groups, modularity
    (q_graph_modularity) SCORES a partition — LPA PRODUCES one
    without a quality-function optimization loop.

    Per-round plan (and the 100 TB story): ONE edge-sized map-side-
    combinable (dst, label) count aggregate, then the argmax as a
    second hash aggregate via min(struct(-cnt, label)) — NO window
    sort anywhere (the oracle spells the same argmax as row_number
    for SQL clarity; min-struct and rank-1 pick identical rows under
    the total (cnt DESC, label ASC) order).  Labels are
    ``materialize``d per round so round k's plan does not replay
    rounds 1..k-1; per-round shuffle is bounded
    by |distinct (dst,label)| ≤ |E|, and rounds are a CONSTANT —
    driver-side control only, all data distributed.
    """
    _, labels = _lpa_engine(spark, sf_dir)
    return labels.select(
        "node", F.col("label").cast("bigint").alias("community")
    ).orderBy("node")


def _lpa_engine(spark, sf_dir: str):
    """Shared body of the LPA family: takes the ``_trading_edges``
    edge list (materialised — every round and every composing caller
    reads it, not the orders⋈lineitem distinct) and runs the
    _LPA_ROUNDS sync rounds.  Returns ``(edges, labels)`` so
    composing queries (q_graph_conductance) reuse BOTH the final
    materialised labels and the SAME edge list instead of
    re-running the |E|-sized distinct build in their own jobs (r12
    stage audit: conductance executed the edge build twice)."""
    _, edges = _trading_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        counted = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counted.groupBy(F.col("n2").alias("node"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("lb")
                    )
                )["lb"].alias("label")
            )
            .transform(materialize, lazy=True)
        )
    return edges, labels


@query(
    "q_graph_conductance",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT cust AS src, supp + 1099511627776 AS dst FROM pairs
        UNION ALL
        SELECT supp + 1099511627776 AS src, cust AS dst FROM pairs
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {{_LPA_ROUNDS_SQL}},
    labeled AS (
        SELECT e.src, e.dst, ls.label AS c_src, ld.label AS c_dst
        FROM edges e
        JOIN lab{{K}} ls ON ls.node = e.src
        JOIN lab{{K}} ld ON ld.node = e.dst
    ),
    m2 AS (SELECT CAST(count(*) AS BIGINT) AS dm FROM edges),
    comm AS (
        SELECT c_src AS community,
               CAST(count(*) AS BIGINT) AS vol,
               CAST(sum(CASE WHEN c_src <> c_dst THEN 1 ELSE 0 END)
                    AS BIGINT) AS cut
        FROM labeled GROUP BY c_src
    ),
    sizes AS (
        SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
        FROM lab{{K}} GROUP BY label
    )
    SELECT s.community, s.n_nodes, c.vol, c.cut,
           CASE WHEN least(c.vol, t.dm - c.vol) > 0
                THEN floor(c.cut * 1.0 / least(c.vol, t.dm - c.vol)
                           * 1000000 + 0.5) / 1000000.0
                ELSE 0.0 END AS conductance
    FROM comm c JOIN sizes s ON s.community = c.community
    CROSS JOIN m2 t
    ORDER BY s.n_nodes DESC, s.community
    """.replace("{_LPA_ROUNDS_SQL}", _LPA_ROUNDS_SQL).replace(
        "{K}", str(_LPA_ROUNDS)
    ),
)
def q_graph_conductance(spark, sf_dir: str) -> DataFrame:
    """Per-community conductance φ(C) = cut(C) / min(vol(C), 2m −
    vol(C)) of the q_graph_label_propagation partition — the
    community-QUALITY diagnostic that closes the loop the family
    opened: LPA PRODUCES a partition, q_graph_modularity SCORES a
    partition globally, conductance says PER COMMUNITY how leaky its
    boundary is (φ → 0: well-separated; φ → 1: every edge leaves).
    Directed-double-counting bookkeeping: the edge list holds both
    directions, so vol(C) = directed edges leaving members = Σ deg,
    2m = |directed edges|, and cut(C) counts each undirected cut edge
    exactly once from its C-side endpoint.

    Composition: REUSES the registered LPA operator for labels (the
    verified-twin composition discipline — cluster_rep_verified rides
    on lsh_verified the same way), then one |E|-sized two-sided label
    join and |communities|-row aggregates; the oracle replays the
    identical unrolled CTE chain.  φ is a ratio of exact BIGINTs →
    HALF_UP 6 dp; a community with no complement (one community =
    whole component volume) gets φ = 0 by convention (guarded in both
    engines).

    Scale: the label join shuffles |E| rows twice (src, dst keys) —
    the same bound as one LPA round; everything downstream is
    community-sized.
    """
    # Reuse BOTH halves of the LPA engine (r12): the labels AND the
    # checkpointed edge list — the previous form called the registered
    # LPA query for labels but re-built its own identical
    # orders⋈lineitem distinct edge set, executing the |E|-sized build
    # twice across the composed jobs (same values: the engine's edges
    # are the identical union expression, cast included).
    edges, lab = _lpa_engine(spark, sf_dir)
    labels = lab.select("node", F.col("label").cast("bigint").alias("label"))
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("c_src"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("c_dst"))
    labeled = edges.join(ls, "src").join(ld, "dst")
    dm = edges.agg(F.count(F.lit(1)).cast("long").alias("dm"))
    comm = labeled.groupBy(F.col("c_src").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.sum(F.when(F.col("c_src") != F.col("c_dst"), 1).otherwise(0))
        .cast("long")
        .alias("cut"),
    )
    sizes = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    denom = F.least(F.col("vol"), F.col("dm") - F.col("vol"))
    from i3cols_spark.functions.rounding import round_half_up

    return (
        comm.join(sizes, "community")
        .crossJoin(F.broadcast(dm))
        .select(
            "community",
            "n_nodes",
            "vol",
            "cut",
            F.when(
                denom > 0, round_half_up(F.col("cut") * 1.0 / denom, 6)
            )
            .otherwise(F.lit(0.0))
            .alias("conductance"),
        )
        .orderBy(F.desc("n_nodes"), F.asc("community"))
    )
