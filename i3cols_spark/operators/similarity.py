"""§2.3-E — similarity search over the embeddings table.

Four tiers, matching how ANN scales from correctness to 100 TB:
  * brute-force top-k   — exact baseline; O(n) per query, scan-bound.
  * threshold pair join — blocked by label (bounded pair space).
  * LSH-bucketed ANN    — random-hyperplane buckets; at scale the
    bucket is a partition column, so a query prunes to ~n/2^bits of
    the data before any distance math.  The hyperplanes are literal
    constants (seeded, embedded in BOTH the Spark expression and the
    SQL oracle) so the approximate result is still deterministic and
    oracle-checkable.
  * IVF coarse-quantized ANN — data-dependent cells (each vector
    clusters to its nearest centroid); a query probes only the few
    cells nearest its own vector.  Centroid selection is a
    deterministic stride sample so the cell structure — and therefore
    the approximate answer — is reproducible in the SQL oracle.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from i3cols_spark.functions.arrays import member_pairs, pair_structs
from i3cols_spark.functions.vectors import as_double, cosine, dot, lsh_bucket, norm_l2
from i3cols_spark.operators.registry import query
from i3cols_spark.sources.mirrors import dataset_tag, write_once
from i3cols_spark.sources.tables import materialize, read_parquet, table

#: Fixed random hyperplanes (seed 42) shared by the Spark plan and the
#: SQL oracle; 6 dp literals parse to identical doubles in both engines.
_RNG = np.random.default_rng(42)
HYPERPLANES: list[list[float]] = [
    [round(float(v), 6) for v in row] for row in _RNG.standard_normal((4, 64))
]


def _sql_array(vals: list[float]) -> str:
    return "CAST([" + ", ".join(repr(v) for v in vals) + "] AS DOUBLE[])"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_sql_array(h)}) >= 0 THEN {2**j} ELSE 0 END)"
    for j, h in enumerate(HYPERPLANES)
)

#: Max distinct vectors per GEMM cell.  Bounds per-task memory of the
#: block-nested-loop engine at 2 cells (2·2048·dim·8 B) plus the
#: cellsize² sim matrix (2048² doubles ≈ 33 MB) — independent of how
#: skewed a label block is.  Cell COUNT per label adapts instead:
#: ceil(block / _CELL_CAP).
_CELL_CAP = 2048


@query(
    "q_similarity_knn_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
    FROM e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q_similarity_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the query vector (vec_id=0).

    The single-row query side is broadcast; the distance is a codegen'd
    HOF; TakeOrderedAndProject keeps a 10-row heap per partition — the
    exact-kNN plan you'd run at any scale when recall must be 1.0.
    """
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine("embedding", "qv"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def blocked_pair_sims(emb: DataFrame, threshold: float) -> DataFrame:
    """Block-nested-loop all-pairs cosine ≥ ``threshold`` with per-cell
    BLAS — the shared engine for pair similarity and embedding dedup.

    Input columns: ``vec_id`` (long), ``label`` (block key), ``v``
    (array<double>).  Output: ``a_id < b_id``, ``cos_sim`` rounded to
    6 dp (round-then-filter, matching the SQL-oracle dialect).

    Stage 0 COLLAPSES EXACT-DUPLICATE VECTORS (by (label,
    xxhash64(v))): quadratic pair work runs over distinct vectors
    only, and group pairs expand back afterwards — identical vectors
    cosine to exactly 1.0 at 6 dp, and a duplication factor of d
    would otherwise multiply the GEMM work by d² (measured 114× at a
    100× replicated probe; ~2× with the collapse).

    Each label block of distinct vectors is split into
    ``ceil(block / _CELL_CAP)`` cells (rep id mod — ADAPTIVE, so cell
    SIZE is the bounded quantity); cells join pairwise (ci ≤ cj) so
    shuffle replication is bounded by the chunk count, never by row
    count; one ``mapInPandas`` float64 GEMM scores an entire cell pair
    per call.  Pair rows above the threshold are the ONLY per-pair
    data that ever exists.  At 100 TB: parallelism = Σ_label
    C(nch+1, 2) cells, per-task memory ≤ 2×_CELL_CAP vectors + the
    _CELL_CAP² sim matrix regardless of block skew — the
    DIMSUM/block-cartesian shape.
    """
    # NULL labels never pair in the oracle dialect (a.label = b.label
    # is NULL, not true) nor in the rep-pair cross path (the inner
    # joins on "label" drop them) — but groupBy would bucket NULLs
    # TOGETHER and emit intra-group pairs for them.  Exclude up front
    # so all three paths agree (round-11 self-review; latent — the
    # fixture labels are non-null).
    emb = emb.filter(F.col("label").isNotNull())
    grp, rep_sims = rep_pair_sims(emb, threshold)

    # Expand rep pairs to member pairs (cross) and add intra-group
    # pairs at exactly 1.0 (identical vectors; zero vectors excluded —
    # their cosine is NULL/undefined in the oracle dialect).  Both are
    # pure output materialization.
    cross = member_pairs(
        rep_sims.drop("label"), grp, reps=("a_id", "b_id"), out=("a_id", "b_id")
    )
    intra = (
        grp.filter((F.size("ids") >= 2) & F.exists("v", lambda x: x != 0))
        .select(F.explode(pair_structs(F.col("ids"), "a_id", "b_id")).alias("p"))
        .select(
            F.col("p.a_id").alias("a_id"),
            F.col("p.b_id").alias("b_id"),
            F.lit(1.0).alias("cos_sim"),
        )
    )
    return cross.unionByName(intra)


def rep_pair_sims(
    emb: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """Stage 0+1 of ``blocked_pair_sims``, exposed for consumers that
    do NOT want the duplicate expansion (e.g. connected-components
    clustering, where member pairs of an exact-dup group would blow
    the edge list up d²-fold — a 100× replicated probe OOMed the edge
    checkpoint before this split).

    Returns ``(grp, rep_sims)``: ``grp`` is the exact-duplicate
    collapse (one row per (label, vector-hash): ``rep`` = min member
    vec_id, ``ids`` = all members, ``v``), ``rep_sims`` the cosine-≥
    threshold pairs among the representatives only (``a_id < b_id``).
    """
    spark = emb.sparkSession
    grp = emb.groupBy("label", F.xxhash64("v").alias("vh")).agg(
        F.min("vec_id").alias("rep"),
        F.sort_array(F.collect_list("vec_id")).alias("ids"),
        F.first("v").alias("v"),
    )
    reps = grp.select(F.col("rep").alias("vec_id"), "label", "v")
    # ADAPTIVE cell count: per-task GEMM memory is 2 cells + the
    # cellsize² sim matrix, so the cell size — not the cell COUNT —
    # must be the bounded quantity.  A fixed nchunks makes cell size
    # grow with the block (one oversized label OOMs the executor);
    # instead each label gets ceil(block/_CELL_CAP) chunks from a
    # map-side-combined per-label count that broadcast-joins back onto
    # the reps (no reps shuffle; the counts side is one row per label).
    blk = reps.groupBy("label").agg(F.count("*").alias("blk_n"))
    reps = reps.join(F.broadcast(blk), "label")
    nch = F.greatest(
        F.lit(1), F.ceil(F.col("blk_n") / F.lit(_CELL_CAP))
    ).cast("int")
    # Chunk on a HASH of the id, not the id itself: residue-skewed id
    # spaces (e.g. ids that are all ≡ 0 mod k after an upstream
    # stride sample) would pile an entire block into one cell and
    # defeat the _CELL_CAP memory bound; xxhash64 residues are uniform
    # for any id distribution.  Output is chunking-invariant — every
    # cell pair (ci ≤ cj) is scored regardless of assignment.
    cells = (
        reps.withColumn("chunk", F.pmod(F.xxhash64("vec_id"), nch).cast("int"))
        .groupBy("label", "chunk")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("rows"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label")) & (F.col("a.chunk") <= F.col("b.chunk")),
    ).select(
        F.col("a.label").alias("label"),
        F.col("a.rows").alias("arows"),
        F.col("b.rows").alias("brows"),
        (F.col("a.chunk") == F.col("b.chunk")).alias("diag"),
    )
    # Spread the ~labels×C(nchunks,2) cell-pair rows across tasks: the
    # join keys are coarse, so without this a handful of shuffle
    # partitions would own all the GEMM work.
    pairs = pairs.repartition(spark.sparkContext.defaultParallelism)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_l, out_a, out_b, out_s = [], [], [], []
            for label, arows, brows, diag in zip(
                pdf["label"], pdf["arows"], pdf["brows"], pdf["diag"]
            ):
                aid = np.fromiter((r["vec_id"] for r in arows), dtype=np.int64)
                bid = np.fromiter((r["vec_id"] for r in brows), dtype=np.int64)
                av = np.array([r["v"] for r in arows], dtype=np.float64)
                bv = np.array([r["v"] for r in brows], dtype=np.float64)
                an = np.linalg.norm(av, axis=1)
                bn = np.linalg.norm(bv, axis=1)
                an[an == 0] = np.inf
                bn[bn == 0] = np.inf
                sim = np.round((av @ bv.T) / np.outer(an, bn), 6)
                ii, jj = np.nonzero((sim >= threshold) & (aid[:, None] != bid[None, :]))
                lo = np.minimum(aid[ii], bid[jj])
                hi = np.maximum(aid[ii], bid[jj])
                if diag:  # same cell: (i,j) and (j,i) both present — keep one
                    keep = aid[ii] < bid[jj]
                    lo, hi, ii, jj = lo[keep], hi[keep], ii[keep], jj[keep]
                out_l.append(np.full(len(lo), label))
                out_a.append(lo)
                out_b.append(hi)
                out_s.append(sim[ii, jj])
            yield pd.DataFrame(
                {
                    "label": np.concatenate(out_l) if out_l else [],
                    "a_id": np.concatenate(out_a) if out_a else [],
                    "b_id": np.concatenate(out_b) if out_b else [],
                    "cos_sim": np.concatenate(out_s) if out_s else [],
                }
            )

    # ``label`` rides along so blocked consumers (per-label components,
    # graph.py) can partition the pair stream without a re-join.  Its
    # type is DERIVED from the input: a hardcoded int silently
    # overflowed bigint block keys and rejected string ones.
    label_type = dict(emb.dtypes)["label"]
    rep_sims = pairs.mapInPandas(
        score, f"label {label_type}, a_id bigint, b_id bigint, cos_sim double"
    )
    return grp, rep_sims


@query(
    "q_similarity_pairs_threshold",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    """,
)
def q_similarity_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ 0.25, blocked by label — block-nested-loop
    with per-cell BLAS.

    A naive blocked self-join materializes O(n²/labels) pair ROWS and
    scores each with an interpreted per-element reduction — measured
    47× slower at 10× data.  Instead each label block is split into
    ``_NCHUNKS`` cells (``vec_id % _NCHUNKS``), cells are joined
    pairwise (ci ≤ cj, so shuffle replication is bounded by _NCHUNKS,
    never by row count), and one ``mapInPandas`` GEMM scores an entire
    cell pair per call.  Pair rows above the threshold are the ONLY
    per-pair data that ever exists; everything below it stays inside a
    float64 matrix multiply.  At 100 TB: parallelism = labels × C(n,2)
    cells, per-task memory = 2 cells, and _NCHUNKS scales with block
    cardinality stats — the DIMSUM/block-cartesian shape (see
    ``blocked_pair_sims``).
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    return blocked_pair_sims(emb, threshold=0.25)


@query(
    "q_similarity_ann_lsh",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    b AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.bucket,
           round(list_cosine_similarity(b.v, q.qv), 6) AS cos_sim
    FROM b, q
    WHERE b.bucket = q.qbucket AND b.vec_id <> 0
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT 5
    """,
)
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH bucketing: score
    only vectors in the query's bucket (~n/16 of the data with 4
    bits).

    This is the 100 TB path: persist ``bucket`` as a partition column
    (sources.ingest supports partitionBy) and the same query becomes a
    partition-pruned scan of one bucket — no full-data distance pass.
    The oracle reproduces the identical bucketing from the shared
    hyperplane literals, so approximation ≠ nondeterminism.
    """
    emb = table(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        lsh_bucket("embedding", HYPERPLANES).alias("bucket"),
    )
    qside = bucketed.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        bucketed.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qside), F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            "bucket",
            F.round(cosine("embedding", "qv"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )


#: IVF coarse-quantizer parameters.  ``_IVF_NLIST`` is the index's
#: fixed cell-count knob (FAISS ``nlist``): centroids are the
#: deterministic stride sample ``vec_id % ceil(n/nlist) == 1``, so the
#: cell count stays ~nlist as data grows and the assignment GEMM is
#: O(n·nlist) — LINEAR in n.  (A stride constant instead of a cell
#: constant makes centroid count ∝ n and assignment quadratic:
#: measured 3.0× at 10× data before this was fixed, 1.3× after.)
_IVF_NLIST = 64
_IVF_NPROBE = 4


def ivf_assignment(emb: DataFrame, cid: np.ndarray, cmat: np.ndarray) -> DataFrame:
    """The index-build assignment plan: ONE float64 GEMM per Arrow
    batch (``mapInPandas``: rows × centroid-matrix, argmax per row
    after 6 dp rounding; the ascending-cid argmax is the exact
    smallest-cid tie-break the SQL oracle's ``row_number`` comparator
    applies).  Centroids ride in the closure — no join against a
    centroid table (tests/test_plans.py asserts the single MapInPandas).
    """
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.inf

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vmat = np.array(pdf["v"].tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(vmat, axis=1)
            vnorm[vnorm == 0] = np.inf
            sims = np.round((vmat @ cmat.T) / np.outer(vnorm, cnorm), 6)
            # cid is sorted ascending, argmax keeps the first maximum —
            # i.e. the smallest centroid id on rounded-sim ties.
            cell = cid[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cell, "v": pdf["v"]}
            )

    return emb.select("vec_id", as_double("embedding").alias("v")).mapInPandas(
        assign, "vec_id bigint, cell bigint, v array<double>"
    )


def _lloyd_refine(
    emb: DataFrame, cid: "np.ndarray", cmat: "np.ndarray", iters: int
) -> tuple["np.ndarray", "np.ndarray"]:
    """``iters`` distributed Lloyd iterations over the stride-sample
    seed: re-assign every vector to its nearest centroid (the same
    single-pass ``ivf_assignment`` GEMM the build uses), then replace
    each centroid with its cell's mean.

    The mean is computed as a posexplode → groupBy(cell, pos) partial
    aggregate — map-side combined, skew-proof (a hot cell's per-dim
    sums combine before the shuffle; no cell's vectors ever gather in
    one task), and the driver collect is k·dim rows (≤ nlist × dim,
    O(KB)) — index-build metadata, not data.  Empty cells drop, the
    standard Lloyd convention.  Refined centroids get synthetic ids
    0..k-1; they are means, not member vectors.
    """
    for _ in range(iters):
        asg = ivf_assignment(emb, cid, cmat).select(
            "cell", F.posexplode("v").alias("pos", "x")
        )
        rows = (
            asg.groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        cells = sorted({r["cell"] for r in rows})
        dim = max(r["pos"] for r in rows) + 1
        cmat = np.zeros((len(cells), dim), dtype=np.float64)
        index = {c: i for i, c in enumerate(cells)}
        for r in rows:
            cmat[index[r["cell"]], r["pos"]] = r["s"] / r["n"]
        cid = np.arange(len(cells), dtype=np.int64)
    return cid, cmat


def build_ivf_index(spark: SparkSession, sf_dir: str, refine_iters: int = 0) -> str:
    """Build (once per dataset CONTENT) the IVF index: assign every
    vector to its nearest centroid cell and WRITE the assignment as a
    cell-PARTITIONED parquet dataset, plus a ``_CENTROIDS.json``
    sidecar holding the centroid ids and matrix.

    This is the write-once index-build job of a real IVF deployment:
    the per-call ``count()`` + assignment GEMM that used to run inside
    the query (12.6× at the 100× probe) happens here,
    amortized over every subsequent probe.  Centroids default to a
    deterministic stride sample of ~``_IVF_NLIST`` vectors; the
    stride-from-count keeps the centroid set O(nlist) and the
    assignment GEMM O(n·nlist) — linear in n.  ``refine_iters`` > 0
    runs that many distributed Lloyd iterations on the seed
    (``_lloyd_refine``) — better recall per probe for real
    deployments, still fully deterministic, but OFF for the contract
    query so its DuckDB oracle can restate the seed centroids in SQL
    (the oracle cannot iterate k-means).  Refined indexes live under
    their own directory name, so both flavors cache side by side.

    Caching is ``sources/mirrors.write_once``: the source content
    fingerprint and the layout parameters (nlist, refine_iters) are
    recorded in ``_MIRROR.json``; a source mutated in place — same
    path, new bytes — rebuilds instead of silently serving wrong
    neighbors, and the index (sidecar included) is built in a private
    temp dir and published by directory swap, so no reader or later
    build ever sees a partial index.
    """
    import json
    import os

    def build(out: str) -> None:
        emb = table(spark, sf_dir, "embeddings")
        stride = max(1, -(-emb.count() // _IVF_NLIST))
        # Bounded collect: the stride filter keeps ≤ _IVF_NLIST rows
        # (stride = ceil(count/nlist)), and Catalyst pushes it below the
        # orderBy, so the sort ranks ~nlist rows — never the corpus.  The
        # residue is 1 % stride, not 1: at stride == 1 (corpus ≤ nlist) a
        # literal `% 1 == 1` matches NOTHING and the empty centroid matrix
        # crashes the assignment GEMM (round-11 self-review); `1 % 1 == 0`
        # keeps every vector as its own centroid instead.
        cents = (
            emb.filter(F.col("vec_id") % stride == 1 % stride)
            .select("vec_id", as_double("embedding").alias("v"))
            .orderBy("vec_id")
            .collect()
        )
        cid = np.array([r["vec_id"] for r in cents], dtype=np.int64)
        cmat = np.array([r["v"] for r in cents], dtype=np.float64)
        if refine_iters:
            cid, cmat = _lloyd_refine(emb, cid, cmat, refine_iters)
        ivf_assignment(emb, cid, cmat).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(out)
        with open(os.path.join(out, "_CENTROIDS.json"), "w") as fh:
            json.dump({"cid": cid.tolist(), "cmat": cmat.tolist()}, fh)

    path, _ = write_once(
        spark,
        "ivf_indexes",
        f"{dataset_tag(sf_dir)}{f'_r{refine_iters}' if refine_iters else ''}",
        [os.path.join(sf_dir, "embeddings.parquet")],
        build,
        {"nlist": _IVF_NLIST, "refine_iters": refine_iters},
    )
    return path


#: Shared oracle of the two IVF probe entries (same index, same seed
#: centroids, same probe selection, same top-k contract).
_IVF_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    s AS (
        SELECT greatest(1, CAST(ceil(count(*) / {_IVF_NLIST}.0) AS BIGINT)) AS stride
        FROM e
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM e, s WHERE vec_id % stride = 1),
    asg AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cid
                   ) AS rn
            FROM e, c
        ) WHERE rn = 1
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
        SELECT cid FROM c, q
        ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, cid
        LIMIT {_IVF_NPROBE}
    )
    SELECT a.vec_id, a.cid AS cell,
           round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
    FROM asg a, q
    WHERE a.cid IN (SELECT cid FROM probe) AND a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT 5
    """


@query("q_similarity_ann_ivf", oracle=_IVF_ORACLE)
def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF coarse quantization: probe only the
    ``_IVF_NPROBE`` cells nearest the query vector (~nprobe/ncells of
    the data).

    The index (cell-partitioned parquet + centroid sidecar) is built
    once by ``build_ivf_index``; the query itself is a PARTITION-PRUNED
    scan — ``cell IN probed`` binds to the partition column, so the
    scan skips (ncells - nprobe)/ncells of the bytes before any
    query-distance math, which is the entire point of IVF.  Probe
    selection is a driver-side O(nlist) dot product over the sidecar
    centroids; no per-call ``count()``/``collect()`` over the data
    remains (tests/test_plans.py asserts the PartitionFilters entry).
    """
    return ivf_topk(spark, sf_dir)


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 5,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF probe against the (possibly Lloyd-refined) index — see
    ``q_similarity_ann_ivf`` for the plan shape.  ``refine_iters`` > 0
    selects the k-means-refined index flavor (built on demand, cached
    separately); the recall property test compares the two at equal
    nprobe.  Driver-side O(nlist) probe selection over the index's
    ``_CENTROIDS.json`` sidecar, then a PARTITION-PRUNED scan of the
    nprobe cells."""
    import json
    import os

    idx = build_ivf_index(spark, sf_dir, refine_iters=refine_iters)
    with open(os.path.join(idx, "_CENTROIDS.json")) as fh:
        meta = json.load(fh)
    cid = np.array(meta["cid"], dtype=np.int64)
    cmat = np.array(meta["cmat"], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.inf

    emb = table(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(as_double("embedding"))
        .head()
    )
    qv = np.asarray(qrow[0], dtype=np.float64)
    qnorm = np.linalg.norm(qv) or np.inf

    # Probe selection: nearest _IVF_NPROBE cells by rounded cosine,
    # smallest-cid tiebreak — mirrors the oracle's ORDER BY ... LIMIT.
    qsim = np.round((cmat @ qv) / (cnorm * qnorm), 6)
    order = np.lexsort((cid, -qsim))
    probed = [int(x) for x in cid[order[:_IVF_NPROBE]]]

    # The query vector appears ONCE (in the dot product) and its norm
    # is a driver-side constant — `cosine(v, qlit)` would inline the
    # 64-element literal array 5× into the projection (the Catalyst
    # multiply-referenced-expression trap, see functions/text.py).
    # nullif keeps the zero-norm → NULL semantics with one norm eval.
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    cos_sim = F.round(
        dot("v", qlit) / (F.nullif(norm_l2("v"), F.lit(0.0)) * F.lit(float(qnorm))),
        6,
    )
    return (
        read_parquet(spark, idx)
        .filter((F.col("vec_id") != query_vec_id) & F.col("cell").isin(probed))
        .select("vec_id", F.col("cell").cast("long").alias("cell"), cos_sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


@query("q_similarity_ann_ivf_partitioned", oracle=_IVF_ORACLE)
def q_similarity_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe read as the PARTITION-COLUMN serving layout — the
    production layout claim made evidence: the cell id of the
    ``build_ivf_index`` dataset is a real partition column of a shared
    warehouse dataset, the probe's
    ``cell IN probed`` binds as a PartitionFilter, and the scan reads
    exactly ``_IVF_NPROBE`` of the ``_IVF_NLIST`` cell directories
    (tests/test_plans.py checks the executed scan's partition count).

    It probes the one ``build_ivf_index`` directory with the same seed
    centroids, probe selection and oracle as q_similarity_ann_ivf, so
    the two entries must agree row-for-row.

    At 100 TB this is THE serving layout: nprobe/nlist of the bytes
    per query before any distance math, no per-query index work, and
    the index rebuilds itself the moment the source content changes.
    """
    return ivf_topk(spark, sf_dir)


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 — the FAISS-style memory-scale path
    the plain IVF probe lacks: inside the probed cells, candidates are
    scored from 8-byte PRODUCT-QUANTIZATION codes (8 subspaces × 16
    codewords over the L2-normalized vectors) via an asymmetric
    distance table, and only the PQ shortlist is re-ranked with exact
    cosine.  At serving scale the scan reads 8-byte codes instead of
    dim × 4-byte floats — a 32× byte reduction on the candidate scan —
    and the exact math touches ``_PQ_SHORTLIST`` rows, not the cell.

    Determinism: codebooks are a stride sample of the corpus's
    normalized subvectors (the IVF seed-centroid pattern — no k-means
    iterations), so results are reproducible and the recall property
    test (tests/test_properties.py) can pin them against the exact
    top-5.  Re-ranking is exact cosine, so every EMITTED similarity is
    true — PQ only decides which candidates reach the re-ranker (the
    standard IVF-PQ contract).  The PRODUCTION stream behind
    q_similarity_ann_ivfpq, which emits the oracle-checkable AUDIT of
    this result since its round-10 flip (a PQ code path is not
    SQL-expressible, so the rows themselves stay un-oracled).
    """
    import json
    import os

    idx = build_ivf_index(spark, sf_dir)
    with open(os.path.join(idx, "_CENTROIDS.json")) as fh:
        meta = json.load(fh)
    cid = np.array(meta["cid"], dtype=np.int64)
    cmat = np.array(meta["cmat"], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.inf

    emb = table(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == 0).select(as_double("embedding")).head()
    )
    qv = np.asarray(qrow[0], dtype=np.float64)
    qnorm = np.linalg.norm(qv) or np.inf
    qhat = qv / qnorm

    qsim = np.round((cmat @ qv) / (cnorm * qnorm), 6)
    order = np.lexsort((cid, -qsim))
    probed = [int(x) for x in cid[order[:_IVF_NPROBE]]]

    # Deterministic codebooks: the _PQ_K smallest vec_ids' normalized
    # subvectors (metadata-sized collect, like the IVF seed sample).
    sample = (
        emb.select("vec_id", as_double("embedding").alias("v"))
        .orderBy("vec_id")
        .limit(_PQ_K)
        .collect()
    )
    smat = np.array([r["v"] for r in sample], dtype=np.float64)
    snorm = np.linalg.norm(smat, axis=1)
    snorm[snorm == 0] = 1.0
    smat = smat / snorm[:, None]
    dim = smat.shape[1]
    d_sub = dim // _PQ_M
    # codebooks[s]: [_PQ_K, d_sub]; LUT[s][j] = <q̂_s, codeword j>
    codebooks = [smat[:, s * d_sub : (s + 1) * d_sub] for s in range(_PQ_M)]
    lut = np.stack(
        [codebooks[s] @ qhat[s * d_sub : (s + 1) * d_sub] for s in range(_PQ_M)]
    )  # [_PQ_M, _PQ_K]

    def pq_score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["v"]), dtype=np.float64)
            nrm = np.linalg.norm(mat, axis=1)
            nrm[nrm == 0] = np.inf
            mat = mat / nrm[:, None]
            score = np.zeros(len(pdf))
            for s in range(_PQ_M):
                sub = mat[:, s * d_sub : (s + 1) * d_sub]
                # encode: nearest codeword by L2 on normalized subvectors
                d2 = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * (sub @ codebooks[s].T)
                    + (codebooks[s] ** 2).sum(1)[None, :]
                )
                codes = np.argmin(d2, axis=1)
                score += lut[s][codes]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "approx": np.round(score, 6),
                }
            )

    pruned = (
        read_parquet(spark, idx)
        .filter((F.col("vec_id") != 0) & F.col("cell").isin(probed))
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "v")
    )
    shortlist = (
        pruned.mapInPandas(pq_score, "vec_id bigint, cell bigint, approx double")
        .orderBy(F.desc("approx"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    cos_sim = F.round(
        dot("v", qlit)
        / (F.nullif(norm_l2("v"), F.lit(0.0)) * F.lit(float(qnorm))),
        6,
    )
    return (
        pruned.join(shortlist.select("vec_id"), "vec_id")
        .select("vec_id", "cell", cos_sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "q_similarity_ann_ivfpq",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    top1 AS (
        SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
        FROM e, q WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 1
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
        CAST(5 AS BIGINT) AS k,
        (SELECT CAST(vec_id AS BIGINT) FROM top1) AS exact_top1_id,
        (SELECT cos_sim FROM top1) AS exact_top1_cos,
        TRUE AS rerank_exact_ok,
        TRUE AS pq_recall_vs_exact_cells_ok
    """,
)
def q_similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, emitted as its oracle-checkable AUDIT (the
    q_dedup_near_minhash r9 precedent; the approximate
    top-5 stream itself is ``ivfpq_topk`` above, and the ADC
    construction is value-hash-pinned by q_similarity_pq_adc_verified):
    one row with the exact ground truth the oracle recomputes — corpus
    size, k, and the EXACT global top-1 neighbor (id + cosine) of the
    query vector — plus two audited booleans on the PQ path:

    * ``rerank_exact_ok``: every similarity ivfpq_topk emits equals
      the true exact cosine of that vector (the re-rank contract —
      a drifted codebook can only hide candidates, never corrupt an
      emitted score; this catches corruption);
    * ``pq_recall_vs_exact_cells_ok``: the PQ shortlist recovers ≥ 1
      of the exact top-5 WITHIN THE SAME PROBED CELLS
      (q_similarity_ann_ivf's output), isolating the PQ shortlist's
      recall from the IVF probe choice — measured 5/5 at
      sf0.001/sf0.01 and 2/5 at sf0.1 (deterministic stride-sample
      codebooks, fixed data); the floor sits at 1 so the audited
      boolean has margin against recall drift.

    Scale shape: the PQ side is the production plan (pruned cell
    scan, 8-byte codes, LUT scoring, exact re-rank of 20); the truth
    side (exact global top-1 + in-cell top-5) is a test-SF audit a
    production run drops with the booleans.
    """
    pq = materialize(ivfpq_topk(spark, sf_dir))
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv")
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine("embedding", "qv"), 6).alias("true_cos"),
        )
    )
    n_vectors = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    top1 = (
        exact.orderBy(F.desc("true_cos"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.col("vec_id").cast("bigint").alias("exact_top1_id"),
            F.col("true_cos").alias("exact_top1_cos"),
        )
    )
    # |Δ| ≤ 1.5e-6, not equality: the two sides compute the same
    # cosine through different float paths (numpy qnorm vs Spark
    # norm_l2), so the 6-dp roundings can land one quantum apart on a
    # .xxxxxx5 boundary.  The bound sits at 1.5 quanta
    # because two ADJACENT 6-dp doubles usually differ by slightly
    # MORE than 1e-6 in IEEE arithmetic (|0.123457-0.123456| =
    # 1.000000000001e-06) — a bound of exactly 1e-6 would reject the
    # very divergence it exists to tolerate — while still rejecting
    # any ≥ 2-quantum (genuinely wrong) re-rank score.
    rerank_chk = (
        pq.join(exact, "vec_id", "left")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("cos_sim") - F.col("true_cos")) <= 1.5e-6, 0
                ).otherwise(1)
            ).alias("n_rerank_bad")
        )
    )
    ivf = q_similarity_ann_ivf(spark, sf_dir).select("vec_id")
    recall_chk = pq.select("vec_id").join(ivf, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        n_vectors.crossJoin(top1)
        .crossJoin(rerank_chk)
        .crossJoin(recall_chk)
        .select(
            "n_vectors",
            F.lit(5).cast("bigint").alias("k"),
            "exact_top1_id",
            "exact_top1_cos",
            (F.col("n_rerank_bad") == 0).alias("rerank_exact_ok"),
            # floor ≥ 1 (measured: 5/5 at sf0.001/0.01, exactly 2/5 at
            # sf0.1) — the earlier ≥ 2 bound had ZERO margin against a
            # hardcoded-TRUE oracle; ≥ 1 still catches a
            # broken shortlist (a corrupted codebook recovers 0) while
            # tolerating recall drift from codebook/stride changes.
            (F.col("n_overlap") >= 1).alias("pq_recall_vs_exact_cells_ok"),
        )
    )


#: IVF-PQ geometry: 8 subspaces × 16 codewords (8-byte codes), exact
#: re-rank of the top-20 PQ candidates.
_PQ_M = 8
_PQ_K = 16
_PQ_SHORTLIST = 20


#: Batch-kNN geometry shared by the Spark plan and the oracle: every
#: vec_id ≡ 0 (mod 125) is a query (4 queries at the 500-vector
#: fixtures, 16 at sf0.1), k = 5 neighbors each.
_KNN_BATCH_K = 5
_KNN_QUERY_MOD = 125

#: Max query vectors collected/broadcast per tile of the batch-kNN
#: outer loop.  Driver + broadcast memory is bounded by
#: _KNN_TILE × dim × 8 B regardless of corpus size (the r05 weak
#: finding was the un-tiled collect growing WITH the corpus).  Tests
#: pass this down to force multi-tile execution at fixture scale.
_KNN_TILE = 4096

#: Exact tiling costs one corpus scan per tile; past this many tiles
#: the batch routes to the write-once IVF index instead — n_probe
#: corpus CELLS per query rather than n_tiles full
#: scans.  With nprobe = nlist the IVF route is exhaustive, which is
#: how the equivalence test pins it to the exact path.
_KNN_IVF_ROUTE_TILES = 8


@query(
    "q_similarity_knn_batch",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {_KNN_QUERY_MOD} = 0),
    sims AS (
        SELECT q.qid, e.vec_id,
               round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
        FROM e, q WHERE e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, vec_id, cos_sim,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos_sim DESC, vec_id
               ) AS knn_rank
        FROM sims
    )
    SELECT qid, knn_rank, vec_id, cos_sim
    FROM ranked WHERE knn_rank <= {_KNN_BATCH_K}
    """,
)
def q_similarity_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a BATCH of query vectors in one corpus
    pass — the many-queries form of q_similarity_knn_cosine (which is
    1 query = 1 scan; N embedding-lookup queries must amortize to one
    scan or the serving job rereads the corpus N times).

    Shape: the query side runs as an OUTER LOOP OF BOUNDED TILES —
    each tile collects at most ``_KNN_TILE`` query vectors (tile t =
    queries with floor(vec_id/mod) ≡ t (mod n_tiles), a pure scan
    filter), broadcasts them into one ``mapInPandas`` GEMM over the
    corpus, and each Arrow batch scores batch × tile in a single
    float64 matmul, emitting only its LOCAL top-k per query — ≤
    tasks × |tile| × k candidate rows ever leave a scan, so the final
    exact rank (one window over the unioned candidate frame) shuffles
    thousands of rows, not |corpus| × |Q|.  Local pruning is exact:
    candidates are selected by the same total order (rounded cos desc,
    vec_id asc) the final window ranks by, and the global top-k under
    a total order is contained in the union of per-partition top-k.

    Tiles are EXACT-BOUND: membership is a dense
    row_number over vec_id, so tile t collects rows
    [t·_KNN_TILE, (t+1)·_KNN_TILE) — ≤ _KNN_TILE vectors per collect
    for ANY id distribution, not just uniform ones (the old
    floor(id/mod) % n_tiles aliasing could pile a strided id space
    into one tile).  The rank window sorts only the QUERY side —
    |Q| rows, not the corpus.

    Scale: driver/broadcast memory is bounded by the TILE size —
    independent of corpus size (the query set here is a corpus stride,
    so the r05-flagged single collect grew linearly with the corpus
    and would eventually OOM the driver).  Cost is one corpus scan per
    tile; past ``_KNN_IVF_ROUTE_TILES`` tiles the batch AUTO-ROUTES to
    the write-once IVF index (``_knn_batch_ivf``): per-query cell
    probes against the cell-partitioned parquet, one pruned scan + one
    join instead of n_tiles full scans.  The fixture's |Q| fits one
    tile, so the plan — and the oracle — are unchanged from the
    single-pass form; tests force multi-tile execution and the IVF
    route explicitly and assert identical results
    (tests/test_plans.py).
    """
    return _knn_batch_impl(spark, sf_dir)


@query(
    "q_similarity_knn_batch_ivf",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {_KNN_QUERY_MOD} = 0),
    sims AS (
        SELECT q.qid, e.vec_id,
               round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
        FROM e, q WHERE e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, vec_id, cos_sim,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cos_sim DESC, vec_id
               ) AS knn_rank
        FROM sims
    )
    SELECT qid, knn_rank, vec_id, cos_sim
    FROM ranked WHERE knn_rank <= {_KNN_BATCH_K}
    """,
)
def q_similarity_knn_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF route of batch kNN run EXHAUSTIVELY (nprobe = nlist) —
    same result contract as q_similarity_knn_batch, same oracle, but
    the plan is the serving-scale shape: per-query cell probes against
    the write-once cell-partitioned index, ONE pruned scan + ONE join
    (see _knn_batch_ivf), instead of per-tile corpus scans.  With the
    full probe the route is exact, so the oracle hash pins the IVF
    join/window machinery itself; production uses the default
    _IVF_NPROBE for the standard recall-for-cost trade (the routing
    threshold in q_similarity_knn_batch flips to this path
    automatically past 8 tiles)."""
    return _knn_batch_impl(spark, sf_dir, route_tiles=0, nprobe=10**9)


def _knn_batch_impl(
    spark: SparkSession,
    sf_dir: str,
    tile_rows: int | None = None,
    route_tiles: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Batch-kNN engine behind q_similarity_knn_batch; the keyword
    knobs exist so tests can force multi-tile execution and the IVF
    route at fixture scale without monkeypatching."""
    from pyspark.sql.window import Window

    tile_rows = _KNN_TILE if tile_rows is None else tile_rows
    route_tiles = _KNN_IVF_ROUTE_TILES if route_tiles is None else route_tiles
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    k = _KNN_BATCH_K
    is_query = F.col("vec_id") % _KNN_QUERY_MOD == 0
    base = emb.filter(is_query)
    n_queries = base.count()
    n_tiles = max(1, -(-n_queries // tile_rows))
    if n_tiles > route_tiles:
        # IVF route: no persist and no qtile window.  The route's only
        # eager pass over the query frame (the probed-cell collect) and
        # its lazy join input both re-derive from one pushed-down
        # parquet scan+filter, which is cheaper than pinning |Q| dim-
        # wide vectors in executor storage; the round-11 persist here
        # was dead weight anyway — it was unpersisted in a ``finally``
        # BEFORE the returned lazy plan ever executed (round-12 fix).
        return _knn_batch_ivf(spark, sf_dir, base, k, nprobe)
    # Exact route: the global row_number tiling window exists only
    # here, and the persist IS consumed before release — every tile's
    # driver-side collect in _knn_batch_exact reads it eagerly, and the
    # returned plan references only ``emb``, never ``queries``.
    queries = base.withColumn(
        "qtile",
        F.floor((F.row_number().over(Window.orderBy("vec_id")) - 1) / tile_rows),
    )
    queries.persist()
    try:
        return _knn_batch_exact(spark, emb, queries, n_tiles, k)
    finally:
        queries.unpersist()


def _knn_batch_exact(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    n_tiles: int,
    k: int,
) -> DataFrame:

    def tile_topk(qids: np.ndarray, qmat: np.ndarray):
        qnorm = np.linalg.norm(qmat, axis=1)
        qnorm[qnorm == 0] = np.inf

        def local_topk(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                ids = pdf["vec_id"].to_numpy(np.int64)
                mat = np.array(list(pdf["v"]), dtype=np.float64)
                vn = np.linalg.norm(mat, axis=1)
                vn[vn == 0] = np.inf
                sims = np.round((mat @ qmat.T) / np.outer(vn, qnorm), 6)
                out_q, out_i, out_s = [], [], []
                for j in range(len(qids)):
                    s = sims[:, j].copy()
                    s[ids == qids[j]] = -np.inf  # exclude self
                    top = np.lexsort((ids, -s))[:k]
                    top = top[np.isfinite(s[top])]
                    out_q.append(np.full(len(top), qids[j]))
                    out_i.append(ids[top])
                    out_s.append(s[top])
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q) if out_q else [],
                        "vec_id": np.concatenate(out_i) if out_i else [],
                        "cos_sim": np.concatenate(out_s) if out_s else [],
                    }
                )

        return local_topk

    parts = []
    for t in range(n_tiles):
        qrows = queries.filter(F.col("qtile") == t).select("vec_id", "v").collect()
        if not qrows:
            continue
        qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
        qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
        parts.append(
            emb.mapInPandas(
                tile_topk(qids, qmat), "qid bigint, vec_id bigint, cos_sim double"
            )
        )

    from functools import reduce

    from pyspark.sql.window import Window

    if not parts:
        return spark.createDataFrame(
            [], "qid bigint, knn_rank int, vec_id bigint, cos_sim double"
        )
    cand = reduce(DataFrame.unionAll, parts)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("qid", "knn_rank", "vec_id", "cos_sim")
    )


def _knn_batch_ivf(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int | None = None,
) -> DataFrame:
    """Large-batch kNN via the write-once IVF index: ONE pruned scan +
    ONE join, instead of ceil(|Q|/tile) full corpus scans.

    Plan: (1) probe selection runs as a mapInPandas over the QUERY
    frame — centroids (nlist × dim, metadata-sized) ship in the
    closure, each query emits its ``nprobe`` nearest cells; (2) the
    union of probed cells is collected (≤ nlist ints — bounded by the
    index geometry, NOT by |Q| or the corpus) and pushed into a
    partition-pruning ``cell IN`` filter on the cell-partitioned index
    parquet; (3) a shuffle join on ``cell`` meets each query only with
    its probed cells' vectors, cosine runs JVM-side (functions/
    vectors.dot — no Python in the corpus-sized hot path), and a
    per-query window keeps the top k.  Candidate volume is
    |Q| × nprobe/nlist of the corpus — the IVF contract — versus
    |Q| × corpus for the naive cross join.

    Approximation contract: with the default ``_IVF_NPROBE`` this is
    approximate (the standard IVF trade); with ``nprobe = nlist`` it
    is EXHAUSTIVE and exactly equals the tiled path — which is how
    tests/test_plans.py pins the route's correctness.
    """
    import json
    import os

    idx = build_ivf_index(spark, sf_dir)
    with open(os.path.join(idx, "_CENTROIDS.json")) as fh:
        meta = json.load(fh)
    cid = np.array(meta["cid"], dtype=np.int64)
    cmat = np.array(meta["cmat"], dtype=np.float64)
    n_probe = _IVF_NPROBE if nprobe is None else min(nprobe, len(cid))

    def assign_probes(batches):
        import numpy as np
        import pandas as pd

        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0] = np.inf
        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.array(list(pdf["v"]), dtype=np.float64)
            qnorm = np.linalg.norm(qmat, axis=1)
            qnorm[qnorm == 0] = np.inf
            sims = np.round((qmat @ cmat.T) / np.outer(qnorm, cnorm), 6)
            out = {"qid": [], "qv": [], "cell": []}
            for r in range(len(pdf)):
                order = np.lexsort((cid, -sims[r]))[:n_probe]
                for c in cid[order]:
                    out["qid"].append(pdf["vec_id"].iloc[r])
                    out["qv"].append(pdf["v"].iloc[r])
                    out["cell"].append(int(c))
            yield pd.DataFrame(out)

    # Computed twice (once for the pruning list, once in the join) —
    # deliberately NOT persisted: the probe frame is |Q| × nprobe rows
    # of dim-wide arrays, which at serving scale dwarfs executor
    # storage, while recomputing it is one cheap |Q| × nlist GEMM.
    probes = queries.select("vec_id", "v").mapInPandas(
        assign_probes, "qid bigint, qv array<double>, cell bigint"
    )
    # Bounded by nlist (index geometry), not by |Q| or corpus size.
    cells_needed = [int(r[0]) for r in probes.select("cell").distinct().collect()]
    corpus = (
        read_parquet(spark, idx)
        .filter(F.col("cell").isin(cells_needed))
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "v")
    )
    cos_sim = F.round(
        dot("v", "qv")
        / (
            F.nullif(norm_l2("v"), F.lit(0.0))
            * F.nullif(norm_l2("qv"), F.lit(0.0))
        ),
        6,
    )
    from pyspark.sql.window import Window

    # Zero-norm vectors score 0.0, NOT dropped: the exact tiled route
    # maps a zero norm to inf (sim 0/inf = 0.0, kept), so filtering the
    # NULL here would break the route-equivalence contract the plan
    # tests assert (round-11 self-review; latent — no fixture vector
    # is zero).
    cand = (
        corpus.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.coalesce(cos_sim, F.lit(0.0)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("qid", "knn_rank", "vec_id", "cos_sim")
    )


@query(
    "q_embedding_kmeans_assign",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c AS (
        SELECT vec_id AS cid, v AS cv FROM e
        WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 8
    ),
    d AS (
        SELECT e.vec_id, c.cid, round(list_distance(e.v, c.cv), 6) AS dist
        FROM e, c
    ),
    a AS (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d
    )
    SELECT cid AS centroid_id, CAST(count(*) AS BIGINT) AS n_members,
           round(avg(dist), 4) AS mean_dist
    FROM a WHERE rn = 1 GROUP BY cid
    """,
)
def q_embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step over the embedding corpus: every vector
    to its nearest of k=8 deterministic centroids (stride-sampled by
    vec_id, the same seeding the IVF index uses — similarity.py
    build_ivf_index), reporting per-cluster population and mean L2
    distance — the E-step a clustering / quantization pipeline runs
    per iteration, and exactly the computation behind IVF cell
    assignment and embedding-codebook training.

    Shape: the k-row centroid side broadcasts into a nested-loop
    expansion (n×k rows, never materialized past the argmin), distance
    is codegen'd array arithmetic (zip_with + aggregate + sqrt — no
    UDF), and the argmin is ``min(struct(dist, cid))`` — an ordinary
    map-side-combinable aggregate, NOT a window: at 100 TB the per-row
    argmin folds inside the scan's partial aggregation, so the only
    shuffle carries one row per vector, then |k| rows to the final
    rollup.  Distances round to 6 dp in both engines before the
    argmin (registry discipline) so FP summation differences cannot
    flip an assignment; ties break on centroid id.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cent = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    diff2 = F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y))
    dist = F.round(
        F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)), 6
    )
    best = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", F.struct(dist.alias("dist"), F.col("cid")).alias("dc"))
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"))
    )
    return best.groupBy(F.col("best.cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("best.dist"), 4).alias("mean_dist"),
    )


@query(
    "q_join_radius_2d",
    oracle="""
    WITH p AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 6) AS dist
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0025
    """,
)
def q_join_radius_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (distance) self-join in 2-D — all point pairs within
    r = 0.05 of each other in the embedding's first-two-dimension
    projection: the spatial-join primitive behind geo joins,
    collision detection, and density estimation.

    The oracle states the O(n²) cross-join semantics; the engine
    GRID-BLOCKS instead: each point hashes to an ⌊x/r⌋,⌊y/r⌋ cell,
    the LEFT side explodes over its 3×3 cell neighborhood (9 rows —
    constant fan-out), and an ordinary equi-join on the cell key
    brings together exactly the pairs that CAN be within r (any pair
    within r differs by ≤1 cell per axis, so each qualifying pair
    meets exactly once, at the offset matching b's true cell).  The
    distance test compares SQUARED distance against r² — exact
    per-row IEEE in both engines, no sqrt on the filter path — and
    only the reported distance rounds at 6 dp.  At 100 TB this is
    one hash-partitioned equi-join whose key is the grid cell:
    shuffle ∝ 9n, pair work ∝ occupied-cell density, never n².
    """
    r = 0.05
    # The filter constant must be the SAME double in both engines:
    # Python's r*r = 0.0025000000000000005 sits 2 ulp ABOVE the
    # oracle's parsed literal 0.0025, so a pair whose exact d2 lands
    # in that window would be emitted here and rejected there
    # (round-11 self-review; latent on the fixture).
    r2 = 0.0025  # == the oracle's literal, NOT r * r
    pts = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    cx = F.floor(F.col("x") / r)
    cy = F.floor(F.col("y") / r)
    b = pts.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cx.alias("cellx"),
        cy.alias("celly"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = (
        pts.select(
            F.col("vec_id").alias("id_a"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            cx.alias("acx"),
            cy.alias("acy"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "id_a",
            "ax",
            "ay",
            (F.col("acx") + F.col("o.dx")).alias("cellx"),
            (F.col("acy") + F.col("o.dy")).alias("celly"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cellx", "celly"])
        .filter((F.col("id_a") < F.col("id_b")) & (d2 <= r2))
        .select("id_a", "id_b", F.round(F.sqrt(d2), 6).alias("dist"))
    )


@query(
    "q_join_knn_2d",
    oracle="""
    WITH p AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings
    ),
    qs AS (SELECT * FROM p WHERE vec_id % 100 = 0),
    d AS (
        SELECT q.vec_id AS id_q, t.vec_id AS id_t,
               (q.x - t.x) * (q.x - t.x) + (q.y - t.y) * (q.y - t.y) AS d2,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY (q.x - t.x) * (q.x - t.x)
                          + (q.y - t.y) * (q.y - t.y), t.vec_id
               ) AS rk
        FROM qs q JOIN p t ON t.vec_id <> q.vec_id
    )
    SELECT id_q, CAST(rk AS BIGINT) AS rk, id_t,
           round(sqrt(d2), 6) AS dist
    FROM d WHERE rk <= 3
    """,
)
def q_join_knn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-nearest-neighbor join (k=3) in 2-D: for every query
    point (each 100th vector) the 3 closest OTHER points, exact — the
    geo primitive behind nearest-store / nearest-sensor lookups, and
    the spatial sibling of q_similarity_knn_cosine's embedding kNN.

    The oracle is the O(|Q|·n) brute force; the engine reuses
    q_join_radius_2d's GRID trick as a candidate generator: queries
    explode over their 3×3 cell neighborhood (cell = r = 0.05), an
    equi-join on the cell key yields every target within r, and one
    row_number window per query keeps the 3 nearest by (squared
    distance, id) — squared distance on the ordering path is exact
    per-row IEEE in both engines, ties broken by id, only the
    reported distance rounds.

    EXACTNESS CONTRACT: grid candidates are a superset of the true
    top-k iff every query's kth-NN distance < r — measured 0.0254 max
    vs r = 0.05 at both fixture SFs, and not an article of faith: the
    ORACLE has no radius, so any neighbor the grid missed is a
    value-hash mismatch.  At production scale the same plan runs as
    phase 1 with a per-query candidate count; under-filled queries
    (density holes) re-run through widening rings — the escape stays
    query-proportional while the common case is one shuffle keyed on
    grid cells, work ∝ local density, never |Q|·n.
    """
    from pyspark.sql.window import Window

    r = 0.05
    pts = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    t = pts.select(
        F.col("vec_id").alias("id_t"),
        F.col("x").alias("tx"),
        F.col("y").alias("ty"),
        F.floor(F.col("x") / r).alias("cellx"),
        F.floor(F.col("y") / r).alias("celly"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    q = (
        pts.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("id_q"),
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            F.floor(F.col("x") / r).alias("qcx"),
            F.floor(F.col("y") / r).alias("qcy"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "id_q",
            "qx",
            "qy",
            (F.col("qcx") + F.col("o.dx")).alias("cellx"),
            (F.col("qcy") + F.col("o.dy")).alias("celly"),
        )
    )
    d2 = (F.col("qx") - F.col("tx")) * (F.col("qx") - F.col("tx")) + (
        F.col("qy") - F.col("ty")
    ) * (F.col("qy") - F.col("ty"))
    w = Window.partitionBy("id_q").orderBy(F.col("d2").asc(), F.col("id_t").asc())
    return (
        q.join(t, ["cellx", "celly"])
        .filter(F.col("id_t") != F.col("id_q"))
        .filter(d2 <= r * r)
        .select("id_q", "id_t", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("id_q", "rk", "id_t", F.round(F.sqrt("d2"), 6).alias("dist"))
    )


#: Recall-curve audit knobs: nprobe ladder, k, and the TARGET query
#: count — the stride derives from the corpus size
#: (stride = ceil(n / _RECALL_NQ)), so the sample stays ~_RECALL_NQ
#: queries at ANY scale: the audit's exact-scan side is then LINEAR
#: in the corpus instead of quadratic (the d10 probe read 4.0× with
#: a corpus-proportional query set; a fixed-size sample is the
#: production form — audit on a sample, serve everything).
_RECALL_NPROBES = (1, 2, 4, 8)
_RECALL_K = 5
_RECALL_NQ = 50


@query(
    "q_similarity_ivf_recall_curve",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    s AS (
        SELECT greatest(1, CAST(ceil(count(*) / {_IVF_NLIST}.0) AS BIGINT)) AS stride
        FROM e
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM e, s WHERE vec_id % stride = 1),
    asg AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cid
                   ) AS rn
            FROM e, c
        ) WHERE rn = 1
    ),
    qs AS (
        SELECT greatest(1, CAST(ceil(count(*) / {_RECALL_NQ}.0) AS BIGINT))
            AS qstride
        FROM e
    ),
    q AS (
        SELECT vec_id AS qid, v AS qv FROM e, qs
        WHERE vec_id % qstride = 0
    ),
    cellrank AS (
        SELECT q.qid, c.cid,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC,
                            c.cid
               ) AS cell_rank
        FROM c, q
    ),
    cand AS (
        SELECT cr.qid, a.vec_id, cr.cell_rank,
               round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
        FROM asg a
        JOIN cellrank cr ON a.cid = cr.cid
        JOIN q ON q.qid = cr.qid
        WHERE cr.cell_rank <= {max(_RECALL_NPROBES)} AND a.vec_id <> cr.qid
    ),
    nps AS (SELECT * FROM (VALUES {", ".join(f"({n})" for n in _RECALL_NPROBES)}) AS t(np)),
    ivf_topk AS (
        SELECT np, qid, vec_id FROM (
            SELECT n.np, cd.qid, cd.vec_id,
                   row_number() OVER (
                       PARTITION BY n.np, cd.qid
                       ORDER BY cd.cos_sim DESC, cd.vec_id
                   ) AS rn
            FROM cand cd JOIN nps n ON cd.cell_rank <= n.np
        ) WHERE rn <= {_RECALL_K}
    ),
    exact_topk AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(list_cosine_similarity(e.v, q.qv), 6) DESC,
                                e.vec_id
                   ) AS rn
            FROM e, q WHERE e.vec_id <> q.qid
        ) WHERE rn <= {_RECALL_K}
    ),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)
    SELECT CAST(i.np AS BIGINT) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_returned,
           CAST(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           floor(CAST(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / ({_RECALL_K} * nq.n) * 1000000 + 0.5) / 1000000.0
               AS recall_at_k
    FROM ivf_topk i
    LEFT JOIN exact_topk x ON i.qid = x.qid AND i.vec_id = x.vec_id
    CROSS JOIN nq
    GROUP BY i.np, nq.n
    ORDER BY nprobe
    """,
)
def q_similarity_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k-vs-nprobe curve for the IVF index — the audit that
    puts the ANN QUALITY/COST TRADEOFF itself under the oracle, the way
    q_dedup_lsh_bucket_audit audits the LSH cost model:
    q_similarity_ann_ivf is exact-checked only at its
    operating point, but a deployment chooses nprobe from THIS curve
    — per nprobe ∈ {1, 2, 4, 8}: how many neighbors the probe
    returned, how many were true top-k, and recall@k against the
    exact scan.  Both sides are deterministic (rounded-cosine ranks,
    vec_id tie-breaks), so the whole table — including the recall
    arithmetic — is value-hash-checked against DuckDB replaying the
    identical index construction in SQL.

    Plan: probe-cell ranks come from the sidecar centroids
    (driver-side |Q|·nlist metadata math, the existing ivf_topk
    convention); candidates are ONE broadcast join of the (qid, cell,
    rank ≤ max nprobe) ladder against the cell-partitioned index —
    the nested nprobe prefixes reuse the same candidate pass (a
    cell_rank filter each, never a rescan); the exact side is one
    corpus × |Q| broadcast GEMM, the audit's inherent cost (a
    production run samples Q, exactly as the stride here does).
    """
    import json
    import os

    from pyspark.sql.window import Window as W

    from i3cols_spark.functions.rounding import round_half_up

    idx = build_ivf_index(spark, sf_dir)
    with open(os.path.join(idx, "_CENTROIDS.json")) as fh:
        meta = json.load(fh)
    cid = np.array(meta["cid"], dtype=np.int64)
    cmat = np.array(meta["cmat"], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = np.inf

    emb = table(spark, sf_dir, "embeddings")
    qstride = max(1, -(-emb.count() // _RECALL_NQ))
    qrows = (
        emb.filter(F.col("vec_id") % qstride == 0)
        .select("vec_id", as_double("embedding").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    nq = len(qrows)
    max_np = max(_RECALL_NPROBES)
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["v"], dtype=np.float64)
        qn = float(np.linalg.norm(qv)) or float("inf")
        qsim = np.round((cmat @ qv) / (cnorm * qn), 6)
        order = np.lexsort((cid, -qsim))
        for rank, cc in enumerate(cid[order[:max_np]], start=1):
            probe_rows.append(
                (int(r["vec_id"]), [float(x) for x in qv], qn, int(cc), rank)
            )
    probes = spark.createDataFrame(
        probe_rows,
        "qid bigint, qv array<double>, qnorm double, cell bigint, cell_rank int",
    )
    idx_df = read_parquet(spark, idx).select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "v"
    )
    cos = F.round(
        dot("v", F.col("qv"))
        / (F.nullif(norm_l2("v"), F.lit(0.0)) * F.col("qnorm")),
        6,
    )
    cand = (
        idx_df.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "cell_rank", cos.alias("cos_sim"))
        # The nprobe rungs are nested prefixes of this ONE candidate
        # table, but their cell_rank filters push below any shared
        # exchange Catalyst could reuse, so without a materialization
        # each rung re-scans the index and re-computes the cosines
        # (4x "Scan parquet" in the r12 before-plan).  The table is
        # |probed-cells ∩ corpus| x |Q| rows of 4 scalars — bounded by
        # the audit's query sampling, never corpus-sized — so a lazy
        # materialization is metadata-cheap and collapses the ladder
        # to one candidate pass.
        .transform(materialize, lazy=True)
    )
    rank_win = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    ivf_parts = None
    for n in _RECALL_NPROBES:
        part = (
            cand.filter(F.col("cell_rank") <= n)
            .withColumn("rn", F.row_number().over(rank_win))
            .filter(F.col("rn") <= _RECALL_K)
            .select(F.lit(n).cast("long").alias("nprobe"), "qid", "vec_id")
        )
        ivf_parts = part if ivf_parts is None else ivf_parts.unionAll(part)
    quniq = probes.select("qid", "qv", "qnorm").dropDuplicates(["qid"])
    exact_topk = (
        idx_df.crossJoin(F.broadcast(quniq))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(rank_win))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        ivf_parts.join(exact_topk, ["qid", "vec_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_returned"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "nprobe",
            "n_returned",
            "n_hits",
            round_half_up(
                F.col("n_hits") / F.lit(float(_RECALL_K * nq)), 6
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


#: Random-projection knobs: 64 → _RP_DIMS via a deterministic ±1
#: matrix derived from the cross-engine md5 family (sign of the first
#: hex nibble of md5("i,j")), sampled pairs from the % stride.
_RP_DIMS = 16
_RP_SRC_DIMS = 64
_RP_PAIR_STRIDE = 50


def _rp_sign(i: int, j: int) -> float:
    """+1/−1 from the first hex nibble of md5("i,j") — the same value
    the oracle derives with ('0x' || substr(md5(...), 1, 1))::BIGINT,
    so the projection MATRIX itself is cross-engine pinned."""
    import hashlib

    return 1.0 if int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[0], 16) < 8 else -1.0


@query(
    "q_embedding_random_projection",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % {_RP_PAIR_STRIDE} = 0
    ),
    proj AS (
        SELECT vec_id, v,
               list_transform(range({_RP_DIMS}), j ->
                   list_reduce(
                       list_transform(range({_RP_SRC_DIMS}), i ->
                           v[i + 1] * (CASE WHEN ('0x' || substr(
                               md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)),
                               1, 1))::BIGINT < 8 THEN 1.0 ELSE -1.0 END)),
                       (a, b) -> a + b)
               ) AS p
        FROM e
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_orig,
               round(
                   list_reduce(list_transform(range({_RP_DIMS}),
                                              k -> a.p[k+1] * b.p[k+1]),
                               (x, y) -> x + y)
                   / (sqrt(list_reduce(list_transform(range({_RP_DIMS}),
                                                      k -> a.p[k+1] * a.p[k+1]),
                                       (x, y) -> x + y))
                      * sqrt(list_reduce(list_transform(range({_RP_DIMS}),
                                                        k -> b.p[k+1] * b.p[k+1]),
                                         (x, y) -> x + y))),
                   6) AS cos_proj
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           floor(avg(abs(cos_orig - cos_proj)) * 1000000 + 0.5) / 1000000.0
               AS mean_abs_err,
           floor(max(abs(cos_orig - cos_proj)) * 1000000 + 0.5) / 1000000.0
               AS max_abs_err
    FROM pairs
    """,
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection WITH ITS OWN DISTORTION
    AUDIT on the checked surface: embeddings project 64 → 16 dims
    through a deterministic ±1 matrix (sign of the first md5 nibble
    of "i,j" — the cross-engine hash family, so the MATRIX, the
    projection arithmetic, and the audit are all value-hash-checked),
    and the output is what a deployment decides with: over the
    sampled pair set, how far pairwise cosine moved (mean/max abs
    error).  This is the dimensionality-reduction alternative to PCA
    (q_embedding_pca_power) that needs NO training pass — the scale
    answer when even one power iteration over 100 TB is too much.

    Float discipline: every reduction that must agree bit-for-bit
    BEFORE rounding is a SEQUENTIAL fold — Spark ``F.aggregate`` and
    DuckDB ``list_reduce`` both run left-to-right, and the 0.0 seed
    is IEEE-exact — so projected vectors and their cosines are
    identical doubles, rounded 6 dp only at the pair level; the final
    mean is the standard multi-row HALF_UP.

    Scale shape: the projection is a per-row JVM expression (16
    sequential folds over the 64-dim array, no Python, no shuffle) —
    at 100 TB it's a map-only pass that shrinks every downstream
    similarity shuffle 4×; the audit's pair join runs on the stride
    SAMPLE only (the production pattern: audit on a sample, project
    everything).
    """
    from i3cols_spark.functions.rounding import round_half_up

    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _RP_PAIR_STRIDE == 0)
        .select("vec_id", as_double("embedding").alias("v"))
    )

    def proj_col(j: int):
        rj = F.array(*[F.lit(_rp_sign(i, j)) for i in range(_RP_SRC_DIMS)])
        return F.aggregate(
            F.zip_with("v", rj, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    proj = emb.select(
        "vec_id", "v", F.array(*[proj_col(j) for j in range(_RP_DIMS)]).alias("p")
    )

    def seq_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    pa = proj.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("p").alias("pa")
    )
    pb = proj.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("p").alias("pb")
    )
    cos_proj = F.round(
        seq_dot(F.col("pa"), F.col("pb"))
        / (F.sqrt(seq_dot(F.col("pa"), F.col("pa")))
           * F.sqrt(seq_dot(F.col("pb"), F.col("pb")))),
        6,
    )
    pairs = (
        pa.join(pb, F.col("a_id") < F.col("b_id"))
        .select(
            F.round(cosine("va", "vb"), 6).alias("cos_orig"),
            cos_proj.alias("cos_proj"),
        )
    )
    err = F.abs(F.col("cos_orig") - F.col("cos_proj"))
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        round_half_up(F.avg(err), 6).alias("mean_abs_err"),
        round_half_up(F.max(err), 6).alias("max_abs_err"),
    )


#: MaxSim geometry: the 64-dim embedding viewed as 8 token vectors of
#: 8 dims — the ColBERT-style late-interaction stand-in the fixture
#: supports (it has one vector per id, not per-token matrices).
_MAXSIM_TOKENS = 8
_MAXSIM_DIM = 8


@query(
    "q_similarity_maxsim",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    tok AS (
        SELECT vec_id,
               list_transform(range({_MAXSIM_TOKENS}),
                   i -> v[i * {_MAXSIM_DIM} + 1 : i * {_MAXSIM_DIM} + {_MAXSIM_DIM}]
               ) AS tk
        FROM e
    ),
    q AS (SELECT tk AS qtk FROM tok WHERE vec_id = 0)
    SELECT t.vec_id,
           round(
               list_reduce(
                   list_transform(range({_MAXSIM_TOKENS}), i ->
                       list_max(list_transform(range({_MAXSIM_TOKENS}), j ->
                           list_reduce(
                               list_transform(range({_MAXSIM_DIM}), k ->
                                   q.qtk[i + 1][k + 1] * t.tk[j + 1][k + 1]),
                               (x, y) -> x + y)
                       ))
                   ),
                   (x, y) -> x + y),
               6) AS maxsim
    FROM tok t, q
    WHERE t.vec_id <> 0
    ORDER BY maxsim DESC, t.vec_id
    LIMIT 5
    """,
)
def q_similarity_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (the ColBERT scoring rule):
    score(doc) = Σ over QUERY token vectors of the MAX dot product
    against any DOC token vector — the multi-vector rerank stage of a
    modern retrieval pipeline, where a single pooled cosine
    (q_similarity_knn_cosine) loses term-level matching.  The fixture
    carries one 64-dim vector per id, so each is viewed as 8 token
    vectors of 8 dims; with real per-token matrices only the slicing
    changes.

    Exactness: every token dot is the sequential left fold
    (F.aggregate ≡ DuckDB list_reduce, 0.0 seed — the registry rule),
    max over 8 is order-free, the outer 8-term sum folds in the same
    order both engines — bit-identical pre-rounding, rounded 6 dp.

    Scale shape: entirely in-row JVM HOF arithmetic over the scan (no
    shuffle, no UDF) ending in a TakeOrderedAndProject top-k heap.
    In production this is the RERANK over an ANN-pruned candidate set
    (compose with q_similarity_ann_ivf's probe to bound the scan);
    brute force here is what makes the oracle total.
    """
    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(as_double("embedding")).head()
    qv = [float(x) for x in qrow[0]]
    nt, dm = _MAXSIM_TOKENS, _MAXSIM_DIM
    v = as_double("embedding")

    def dot_lit(dsub, qsub: list) -> "F.Column":
        qlit = F.array(*[F.lit(x) for x in qsub])
        return F.aggregate(
            F.zip_with(dsub, qlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    maxdots = [
        F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(nt - 1)),
                lambda j: dot_lit(
                    F.slice(v, j * dm + 1, dm), qv[i * dm : (i + 1) * dm]
                ),
            )
        )
        for i in range(nt)
    ]
    score = maxdots[0]
    for md in maxdots[1:]:
        score = score + md
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(score, 6).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("vec_id"))
        .limit(5)
    )


#: Hybrid-retrieval fusion knobs: the RRF smoothing constant (k=60,
#: the value from Cormack/Clarke/Buettcher 2009 that every production
#: hybrid-search stack defaults to), per-ranker candidate depth, and
#: the fused result size.
_RRF_K = 60
_RRF_DEPTH = 50
_RRF_TOPN = 10


def _rrf_oracle() -> str:
    from i3cols_spark.operators.textops import BM25_SCORED_SQL

    return f"""
    WITH {BM25_SCORED_SQL},
    lex AS (
        SELECT doc_id, floor(score * 1000000 + 0.5) / 1000000.0 AS s
        FROM scored ORDER BY s DESC, doc_id LIMIT {_RRF_DEPTH}
    ),
    lexr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT)
                   AS rank_lex
        FROM lex
    ),
    e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    den AS (
        SELECT e.vec_id AS doc_id,
               round(list_cosine_similarity(e.v, qv.q), 6) AS c
        FROM e, qv WHERE e.vec_id <> 0
        ORDER BY c DESC, e.vec_id LIMIT {_RRF_DEPTH}
    ),
    denr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS BIGINT)
                   AS rank_dense
        FROM den
    )
    SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
           l.rank_lex AS rank_lex,
           d.rank_dense AS rank_dense,
           round(coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + l.rank_lex), 0.0)
                 + coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + d.rank_dense), 0.0),
                 6) AS rrf
    FROM lexr l FULL OUTER JOIN denr d ON l.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_TOPN}
    """


@query("q_similarity_hybrid_rrf", oracle=_rrf_oracle())
def q_similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — the standard way
    a RAG stack combines a LEXICAL ranker (BM25) with a DENSE ranker
    (embedding cosine) without score calibration: each ranker
    contributes 1/(k + rank), k = 60, and documents are re-ranked by
    the sum (Cormack et al., SIGIR 2009).  Ranker A is the
    self-contained BM25 query of q_text_bm25_search (top-50 cut);
    ranker B is brute-force cosine of every embedding against the
    query vector vec_id = 0 (top-50 cut) under the fixture's shared
    key convention vec_id == doc_id (the embeddings table is a prefix
    subset of documents — 2 000 of 5 000 docs carry a vector at
    sf0.1, which is exactly the hybrid-search reality RRF handles:
    a doc ranked by only one ranker simply gets that ranker's term).

    Determinism: both ranked lists order by (score rounded 6 dp DESC,
    id ASC) before row_number, so ranks are integers both engines
    agree on; the RRF sum is ≤ 2 per-row IEEE terms in a fixed
    coalesce order.  Scale shape: each ranker is its own proven plan
    (BM25 = checkpointed inverted index; dense = one corpus scan with
    a 10-row heap per partition); fusion itself joins two ≤ depth-row
    lists — driver-trivial at any corpus size, and the depth cut is
    the knob that keeps it so.
    """
    from pyspark.sql.window import Window as W

    from i3cols_spark.functions.rounding import round_half_up
    from i3cols_spark.operators.textops import bm25_scored

    lex = (
        bm25_scored(spark, sf_dir)
        .select("doc_id", round_half_up(F.col("score"), 6).alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
    )
    lex = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("s"), F.asc("doc_id")))
        .cast("long")
        .alias("rank_lex"),
    )
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(as_double("embedding").alias("qv"))
    den = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine("embedding", "qv"), 6).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
    )
    den = den.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("c"), F.asc("doc_id")))
        .cast("long")
        .alias("rank_dense"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_dense")), F.lit(0.0))
    return (
        lex.join(den, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_lex",
            "rank_dense",
            F.round(rrf, 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_TOPN)
    )


#: Truncated-dimension audit knobs: the prefix kept (the Matryoshka
#: representation-learning serving trick) and the k sweep depth.
_TRUNC_DIM = 16
_TRUNC_TOPK = 10


@query(
    "q_similarity_dim_truncation",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    fullr AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT)
                   AS rk
        FROM (
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.v, q.v), 6) AS c
            FROM e, q WHERE e.vec_id <> 0
            ORDER BY c DESC, e.vec_id LIMIT {_TRUNC_TOPK}
        )
    ),
    truncr AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT)
                   AS rk
        FROM (
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                       e.v[1:{_TRUNC_DIM}], q.v[1:{_TRUNC_DIM}]), 6) AS c
            FROM e, q WHERE e.vec_id <> 0
            ORDER BY c DESC, e.vec_id LIMIT {_TRUNC_TOPK}
        )
    ),
    ks AS (SELECT unnest(range(1, {_TRUNC_TOPK} + 1)) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(count(j.vec_id) AS BIGINT) AS n_overlap,
           floor(CAST(count(j.vec_id) AS DOUBLE) / ks.k * 1000000 + 0.5)
               / 1000000.0 AS recall_at_k
    FROM ks
    LEFT JOIN (
        SELECT f.vec_id, f.rk AS rf, t.rk AS rt
        FROM fullr f JOIN truncr t ON f.vec_id = t.vec_id
    ) j ON j.rf <= ks.k AND j.rt <= ks.k
    GROUP BY ks.k
    ORDER BY ks.k
    """,
)
def q_similarity_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall audit — brute-force cosine top-10
    on the FULL 64-dim embedding vs the same search using only the
    first 16 (_TRUNC_DIM) dimensions (the Matryoshka / dimension-pruned
    serving trick: store one vector, ANSWER cheap queries from a
    prefix), reported as recall@k for k = 1..10 (_TRUNC_TOPK).  The
    audit a serving stack runs before committing to a truncated
    index tier — the dimensional sibling of
    q_similarity_ivf_recall_curve's cell-probe audit.

    Shape: two exact top-k scans (each a corpus scan with a k-row
    heap per partition — the q_similarity_knn_cosine plan, the
    truncated one reading 16/64 of each vector's arithmetic)
    joined on the ≤ k surviving ids; the k-sweep is a broadcast of a
    10-row literal range against a ≤ 10-row join — driver-trivial
    always.  Both rankings order on (rounded score, id) so ranks are
    cross-engine integers; recall is an exact-integer ratio →
    HALF_UP 6 dp.
    """
    from pyspark.sql.window import Window as W

    from i3cols_spark.functions.rounding import round_half_up

    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv")
    )

    def ranked(dim: int | None) -> DataFrame:
        v, qv = F.col("v"), F.col("qv")
        if dim is not None:
            v, qv = F.slice(v, 1, dim), F.slice(qv, 1, dim)
        c = F.round(
            F.aggregate(
                F.zip_with(v, qv, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (
                F.sqrt(
                    F.aggregate(
                        F.transform(v, lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                * F.sqrt(
                    F.aggregate(
                        F.transform(qv, lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
            ),
            6,
        )
        base = (
            emb.filter(F.col("vec_id") != 0)
            .select("vec_id", as_double("embedding").alias("v"))
            .join(F.broadcast(qrow))
            .select("vec_id", c.alias("c"))
            .orderBy(F.desc("c"), F.asc("vec_id"))
            .limit(_TRUNC_TOPK)
        )
        return base.select(
            "vec_id",
            F.row_number()
            .over(W.orderBy(F.desc("c"), F.asc("vec_id")))
            .cast("long")
            .alias("rk"),
        )

    fullr = ranked(None).withColumnRenamed("rk", "rf")
    truncr = ranked(_TRUNC_DIM).withColumnRenamed("rk", "rt")
    joined = fullr.join(truncr, "vec_id")
    ks = spark.range(1, _TRUNC_TOPK + 1).select(F.col("id").alias("k"))
    return (
        ks.join(
            F.broadcast(joined),
            (F.col("rf") <= F.col("k")) & (F.col("rt") <= F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(F.count("vec_id").cast("long").alias("n_overlap"))
        .select(
            "k",
            "n_overlap",
            round_half_up(
                F.col("n_overlap").cast("double") / F.col("k"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("k")
    )


@query(
    "q_embedding_kmeans_update",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c AS (
        SELECT vec_id AS cid, v AS cv FROM e
        WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 8
    ),
    a AS (
        SELECT vec_id, cid, v,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (
            SELECT e.vec_id, c.cid, e.v,
                   round(list_distance(e.v, c.cv), 6) AS dist
            FROM e, c
        )
    ),
    m AS (SELECT vec_id, cid, v FROM a WHERE rn = 1),
    nc AS (
        SELECT cid, list(c ORDER BY i) AS ncv
        FROM (
            SELECT m.cid, t.i, round(avg(m.v[t.i]), 9) AS c
            FROM m CROSS JOIN range(1, 65) t(i)
            GROUP BY m.cid, t.i
        )
        GROUP BY cid
    ),
    a2 AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (
            SELECT e.vec_id, nc.cid,
                   round(list_distance(e.v, nc.ncv), 6) AS dist
            FROM e, nc
        )
    ),
    before AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_before FROM m GROUP BY cid),
    after AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_after
        FROM a2 WHERE rn = 1 GROUP BY cid
    )
    SELECT b.cid AS centroid_id, b.n_before,
           coalesce(af.n_after, 0) AS n_after,
           round(list_distance(c.cv, nc.ncv), 6) AS shift
    FROM before b
    JOIN c ON c.cid = b.cid
    JOIN nc ON nc.cid = b.cid
    LEFT JOIN after af ON af.cid = b.cid
    ORDER BY b.cid
    """,
)
def q_embedding_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration over the embedding corpus — the
    M-step q_embedding_kmeans_assign stops short of: assign every
    vector to its nearest of the k = 8 stride-sampled seeds, RECOMPUTE
    each centroid as its members' elementwise mean, re-assign against
    the updated centroids, and report per cluster the population
    before/after plus the centroid shift (the |c' − c| convergence
    signal a k-means driver loops on).  This is the iterative-ML
    pattern at its purest: the open-ended loop would ``materialize``
    the assignment per round; one unrolled round keeps the whole
    trajectory SQL-expressible.

    Shape per half-step: k-row centroid side broadcast into the scan,
    per-row argmin as ``min(struct(dist, cid))`` (map-side-combined
    aggregate, never a window over the corpus); the M-step shuffles
    k×dim partial sums (posexplode → groupBy(cid, pos)), metadata-
    sized at any corpus size.  Cross-engine FP: distances rounded
    6 dp BEFORE each argmin (assignment flips are the failure mode),
    centroid means 9 dp (multi-row reductions), shift 6 dp.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cent = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )

    def assign(points: DataFrame, cents: DataFrame, ccol: str) -> DataFrame:
        diff2 = F.zip_with("v", ccol, lambda x, y: (x - y) * (x - y))
        dist = F.round(
            F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)), 6
        )
        return (
            points.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "v",
                F.struct(dist.alias("dist"), F.col("cid")).alias("dc"),
            )
            .groupBy("vec_id")
            .agg(F.min("dc").alias("best"), F.first("v").alias("v"))
            .select("vec_id", "v", F.col("best.cid").alias("cid"))
        )

    m = materialize(assign(emb, cent, "cv"))
    nc = (
        m.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), 9).alias("c"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("ncv")
        )
    )
    a2 = assign(emb, nc.select("cid", F.col("ncv")), "ncv")
    before = m.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_before"))
    after = a2.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    shift = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("cv", "ncv", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    return (
        before.join(cent, before.cid == cent.cid)
        .drop(cent.cid)
        .join(nc, "cid")
        .join(after, "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            "n_before",
            F.coalesce("n_after", F.lit(0).cast("long")).alias("n_after"),
            shift.alias("shift"),
        )
        .orderBy("centroid_id")
    )


#: Greedy farthest-point (k-center) coreset rounds and the MMR
#: diversification knobs (Carbonell & Goldstein 1998: lambda trades
#: relevance against redundancy).
_KCENTER_ROUNDS = 8
_MMR_LAMBDA = 0.7
_MMR_K = 5
_MMR_CAND = 20


@query(
    "q_sample_kcenter",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    m0 AS MATERIALIZED (
        SELECT e.vec_id, e.v,
               round(list_distance(e.v, s.v), 6) AS d
        FROM e, (SELECT v FROM e WHERE vec_id = 0) s
        WHERE e.vec_id <> 0
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m0 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m1 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m0 m, sel1 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel2 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m1 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m2 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m1 m, sel2 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel3 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m2 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m3 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m2 m, sel3 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel4 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m3 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m4 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m3 m, sel4 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel5 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m4 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m5 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m4 m, sel5 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel6 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m5 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m6 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m5 m, sel6 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel7 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m6 ORDER BY d DESC, vec_id LIMIT 1
    ),
    m7 AS MATERIALIZED (
        SELECT m.vec_id, m.v,
               least(m.d, round(list_distance(m.v, s.v), 6)) AS d
        FROM m6 m, sel7 s
        WHERE m.vec_id <> s.vec_id
    ),
    sel8 AS MATERIALIZED (
        SELECT vec_id, v, d FROM m7 ORDER BY d DESC, vec_id LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel2
    UNION ALL
    SELECT CAST(3 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel3
    UNION ALL
    SELECT CAST(4 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel4
    UNION ALL
    SELECT CAST(5 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel5
    UNION ALL
    SELECT CAST(6 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel6
    UNION ALL
    SELECT CAST(7 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel7
    UNION ALL
    SELECT CAST(8 AS BIGINT) AS round, vec_id, d AS covering_dist FROM sel8
    ORDER BY round
    """,
)
def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point (k-center / Gonzalez 1985) coreset
    selection over the embedding corpus — 8 rounds from the
    vec_id = 0 seed, each picking the point FARTHEST from the chosen
    set (max over points of min distance to the set) and emitting the
    covering radius at selection time.  The diversity-sampling
    primitive of data curation: the k selected rows are the 2-approx
    optimal coverage skeleton a labeling/inspection budget buys, and
    the decreasing covering_dist sequence IS the coverage curve.

    This is the engine's greedy-selection pattern (new beside the
    fixpoint loops): per round ONE argmax — an orderBy(desc d,
    id).limit(1), i.e. a TakeOrdered 1-row heap, never a window —
    then a 1-row broadcast updates the running min-distance column
    and the frame is ``materialize``d (lineage would otherwise deepen
    k-fold).  Cost: k corpus scans, each
    embarrassingly parallel.  Distances round 6 dp BEFORE every
    comparison (both dialects) so argmax ties break identically on
    vec_id.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    seed = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("sv"))

    def dist_to(col_other: str) -> "F.Column":
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", col_other, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )

    m = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(seed))
        .select("vec_id", "v", dist_to("sv").alias("d"))
        .transform(materialize)
    )
    outs = []
    for r in range(1, _KCENTER_ROUNDS + 1):
        sel = m.orderBy(F.desc("d"), F.asc("vec_id")).limit(1)
        outs.append(
            sel.select(
                F.lit(r).cast("long").alias("round"),
                "vec_id",
                F.col("d").alias("covering_dist"),
            )
        )
        if r < _KCENTER_ROUNDS:
            sel_b = F.broadcast(
                sel.select(
                    F.col("vec_id").alias("sel_id"), F.col("v").alias("sv")
                )
            )
            m = (
                m.crossJoin(sel_b)
                .filter(F.col("vec_id") != F.col("sel_id"))
                .select(
                    "vec_id",
                    "v",
                    F.least(F.col("d"), dist_to("sv")).alias("d"),
                )
                .transform(materialize)
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("round")


@query(
    "q_similarity_mmr",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cand AS MATERIALIZED (
        SELECT e.vec_id, e.v,
               round(list_cosine_similarity(e.v, q.v), 6) AS simq
        FROM e, (SELECT v FROM e WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY simq DESC, e.vec_id LIMIT 20
    ),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               round(list_cosine_similarity(a.v, b.v), 6) AS s
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, simq FROM cand ORDER BY simq DESC, vec_id LIMIT 1
    ),
    chosen1 AS MATERIALIZED (SELECT vec_id FROM sel1),
    sel2 AS MATERIALIZED (
        SELECT c.vec_id, c.simq,
               round(0.7 * c.simq - 0.3 * max(p.s), 6) AS mmr
        FROM cand c
        JOIN pairs p ON p.ia = c.vec_id
        JOIN chosen1 ch ON ch.vec_id = p.ib
        WHERE c.vec_id NOT IN (SELECT vec_id FROM chosen1)
        GROUP BY c.vec_id, c.simq
        ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    chosen2 AS MATERIALIZED (
        SELECT vec_id FROM chosen1 UNION ALL SELECT vec_id FROM sel2
    ),
    sel3 AS MATERIALIZED (
        SELECT c.vec_id, c.simq,
               round(0.7 * c.simq - 0.3 * max(p.s), 6) AS mmr
        FROM cand c
        JOIN pairs p ON p.ia = c.vec_id
        JOIN chosen2 ch ON ch.vec_id = p.ib
        WHERE c.vec_id NOT IN (SELECT vec_id FROM chosen2)
        GROUP BY c.vec_id, c.simq
        ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    chosen3 AS MATERIALIZED (
        SELECT vec_id FROM chosen2 UNION ALL SELECT vec_id FROM sel3
    ),
    sel4 AS MATERIALIZED (
        SELECT c.vec_id, c.simq,
               round(0.7 * c.simq - 0.3 * max(p.s), 6) AS mmr
        FROM cand c
        JOIN pairs p ON p.ia = c.vec_id
        JOIN chosen3 ch ON ch.vec_id = p.ib
        WHERE c.vec_id NOT IN (SELECT vec_id FROM chosen3)
        GROUP BY c.vec_id, c.simq
        ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    chosen4 AS MATERIALIZED (
        SELECT vec_id FROM chosen3 UNION ALL SELECT vec_id FROM sel4
    ),
    sel5 AS MATERIALIZED (
        SELECT c.vec_id, c.simq,
               round(0.7 * c.simq - 0.3 * max(p.s), 6) AS mmr
        FROM cand c
        JOIN pairs p ON p.ia = c.vec_id
        JOIN chosen4 ch ON ch.vec_id = p.ib
        WHERE c.vec_id NOT IN (SELECT vec_id FROM chosen4)
        GROUP BY c.vec_id, c.simq
        ORDER BY mmr DESC, c.vec_id LIMIT 1
    ),
    chosen5 AS MATERIALIZED (
        SELECT vec_id FROM chosen4 UNION ALL SELECT vec_id FROM sel5
    )
    SELECT CAST(1 AS BIGINT) AS rank, vec_id, simq,
           round(0.7 * simq, 6) AS mmr
    FROM sel1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS rank, vec_id, simq, mmr FROM sel2
    UNION ALL
    SELECT CAST(3 AS BIGINT) AS rank, vec_id, simq, mmr FROM sel3
    UNION ALL
    SELECT CAST(4 AS BIGINT) AS rank, vec_id, simq, mmr FROM sel4
    UNION ALL
    SELECT CAST(5 AS BIGINT) AS rank, vec_id, simq, mmr FROM sel5
    ORDER BY rank
    """,
)
def q_similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-5 for the query vector vec_id = 0:
    candidates are the cosine top-20; selection is greedy by
    mmr = λ·sim(q, d) − (1 − λ)·max over selected of sim(d, s),
    λ = 0.7 — THE re-ranking step a RAG stack runs between
    retrieval (q_similarity_hybrid_rrf) and the context window, so
    near-duplicate passages don't crowd out coverage.

    Scale shape: ONE corpus scan produces the 20-candidate
    pool (TakeOrdered heap); everything after operates on ≤ 20
    rows (the 20²-pair sim table and 5 greedy argmax
    rounds are metadata-sized by construction — the candidate-depth
    knob is what keeps the quadratic term constant at any corpus
    size).  Similarities round 6 dp before every comparison; greedy
    ties break on vec_id; the unrolled 5-round trajectory is
    value-hash-checked end-to-end by the MATERIALIZED-CTE oracle
    (the BPE-learner precedent).
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "v", F.round(cosine("v", "qv"), 6).alias("simq"))
        .orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(_MMR_CAND)
        .transform(materialize)
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.round(cosine("a.v", "b.v"), 6).alias("s"),
        )
        .transform(materialize)
    )
    sel = cand.orderBy(F.desc("simq"), F.asc("vec_id")).limit(1)
    outs = [
        sel.select(
            F.lit(1).cast("long").alias("rank"),
            "vec_id",
            "simq",
            F.round(F.lit(_MMR_LAMBDA) * F.col("simq"), 6).alias("mmr"),
        )
    ]
    chosen = sel.select("vec_id")
    for t in range(2, _MMR_K + 1):
        scored = (
            cand.join(chosen, "vec_id", "left_anti")
            .join(pairs, cand.vec_id == pairs.ia)
            .join(chosen.withColumnRenamed("vec_id", "ib"), "ib")
            .groupBy(cand.vec_id, "simq")
            .agg(
                F.round(
                    F.lit(_MMR_LAMBDA) * F.first("simq")
                    - F.lit(round(1 - _MMR_LAMBDA, 1)) * F.max("s"),
                    6,
                ).alias("mmr")
            )
        )
        pick = scored.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1)
        outs.append(
            pick.select(
                F.lit(t).cast("long").alias("rank"), "vec_id", "simq", "mmr"
            )
        )
        chosen = chosen.unionAll(pick.select("vec_id"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("rank")


#: PQ-ADC verified-twin knobs: 4 subspaces × 16 dims, 8 codewords
#: per subspace (the first-8-vectors prefix sample — the same
#: deterministic seeding the IVF/PQ production path uses), top-10.
_PQV_BLOCKS = 4
_PQV_SUBDIM = 16
_PQV_K = 8
_PQV_TOPN = 10


@query(
    "q_similarity_pq_adc_verified",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    cb AS (SELECT vec_id AS cid, v FROM e ORDER BY vec_id LIMIT {_PQV_K}),
    blocks AS (SELECT unnest(range(0, {_PQV_BLOCKS})) AS b),
    enc AS (
        SELECT vec_id, b, cid,
               row_number() OVER (PARTITION BY vec_id, b
                                  ORDER BY d2, cid) AS rn
        FROM (
            SELECT e.vec_id, blk.b, c.cid,
                   round(list_sum(list_transform(range(1, {_PQV_SUBDIM} + 1),
                       i -> (e.v[blk.b * {_PQV_SUBDIM} + i]
                             - c.v[blk.b * {_PQV_SUBDIM} + i])
                            * (e.v[blk.b * {_PQV_SUBDIM} + i]
                               - c.v[blk.b * {_PQV_SUBDIM} + i]))), 9) AS d2
            FROM e CROSS JOIN blocks blk CROSS JOIN cb c
            WHERE e.vec_id <> 0
        )
    ),
    lut AS (
        SELECT blk.b, c.cid,
               round(list_sum(list_transform(range(1, {_PQV_SUBDIM} + 1),
                   i -> (q.v[blk.b * {_PQV_SUBDIM} + i]
                         - c.v[blk.b * {_PQV_SUBDIM} + i])
                        * (q.v[blk.b * {_PQV_SUBDIM} + i]
                           - c.v[blk.b * {_PQV_SUBDIM} + i]))), 9) AS qd2
        FROM q CROSS JOIN blocks blk CROSS JOIN cb c
    ),
    adc AS (
        SELECT enc.vec_id,
               round(sqrt(round(sum(lut.qd2), 9)), 6) AS adc_dist
        FROM enc JOIN lut ON lut.b = enc.b AND lut.cid = enc.cid
        WHERE enc.rn = 1
        GROUP BY enc.vec_id
    ),
    exact AS (
        SELECT e.vec_id, round(list_distance(e.v, q.v), 6) AS exact_dist
        FROM e, q WHERE e.vec_id <> 0
    ),
    exact10 AS (
        SELECT vec_id FROM exact ORDER BY exact_dist, vec_id
        LIMIT {_PQV_TOPN}
    )
    SELECT a.vec_id, a.adc_dist, x.exact_dist,
           a.vec_id IN (SELECT vec_id FROM exact10) AS in_exact_top10
    FROM adc a JOIN exact x ON x.vec_id = a.vec_id
    ORDER BY a.adc_dist, a.vec_id
    LIMIT {_PQV_TOPN}
    """,
)
def q_similarity_pq_adc_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search fully under the oracle — the
    verified twin of q_similarity_ann_ivfpq's rows-only code path
    (the q_dedup_minhash_lsh_verified precedent: re-express the
    engine-side construction with cross-engine-computable pieces and
    hash-check the WHOLE trajectory).  4 subspaces × 16 dims, 8
    deterministic codewords per subspace (first-8-vectors (_PQV_K)
    prefix sample — the production path's own seeding), every vector
    encoded to its per-block argmin codeword, query distances
    table-looked-up (ADC: approx d² = Σ_b d²(q_b, c_b,code)), top-10
    by ADC distance with the exact distance and an exact-top-10
    membership audit on every emitted row.

    Scale shape: encoding is n×4×8 (_PQV_BLOCKS×_PQV_K) rows against a
    broadcast 8-row codebook with a map-side-combined
    min(struct) argmin (production fuses this in-row; the explode
    keeps the SQL twin symmetric); the LUT is 4×8
    rows; the audit side is one exact scan.  Subspace distances are
    in-order fixed-length folds (identical fold order in both
    dialects) rounded 9 dp before the argmin; ADC sums round 9 dp,
    distances 6 dp; ties break on codeword/vector id.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cb = (
        emb.orderBy("vec_id")
        .limit(_PQV_K)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    blocks = spark.range(0, _PQV_BLOCKS).select(F.col("id").cast("int").alias("b"))

    def sub_d2(a: str, c: str) -> "F.Column":
        lo = F.col("b") * _PQV_SUBDIM + 1
        sa = F.slice(F.col(a), lo, _PQV_SUBDIM)
        sc = F.slice(F.col(c), lo, _PQV_SUBDIM)
        return F.round(
            F.aggregate(
                F.zip_with(sa, sc, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        )

    enc = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(blocks))
        .crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "b",
            F.struct(sub_d2("v", "cv").alias("d2"), F.col("cid")).alias("dc"),
        )
        .groupBy("vec_id", "b")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "b", F.col("best.cid").alias("cid"))
    )
    lut = (
        q.crossJoin(F.broadcast(blocks))
        .crossJoin(F.broadcast(cb))
        .select("b", "cid", sub_d2("qv", "cv").alias("qd2"))
    )
    adc = (
        enc.join(F.broadcast(lut), ["b", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sqrt(F.round(F.sum("qd2"), 9)), 6).alias("adc_dist"))
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                6,
            ).alias("exact_dist"),
        )
    )
    exact10 = exact.orderBy(F.asc("exact_dist"), F.asc("vec_id")).limit(
        _PQV_TOPN
    ).select(F.col("vec_id").alias("e10"), F.lit(True).alias("hit"))
    return (
        adc.join(exact, "vec_id")
        .join(F.broadcast(exact10), adc.vec_id == F.col("e10"), "left")
        .select(
            "vec_id",
            "adc_dist",
            "exact_dist",
            F.coalesce("hit", F.lit(False)).alias("in_exact_top10"),
        )
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(_PQV_TOPN)
    )
