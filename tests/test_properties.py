"""Property checks (SURVEY §5.2.3) — invariants the oracle can't see,
and strong local checks for the rows-only (no-oracle) queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from i3cols_spark.operators import QUERIES
from i3cols_spark.sources.tables import table


def test_union_all_rowcount_additivity(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("value") > 150)
    assert a.unionByName(b).count() == a.count() + b.count()


def test_semi_join_containment(spark, sf_dir):
    semi = QUERIES["q_join_semi"](spark, sf_dir)
    anti = QUERIES["q_join_anti"](spark, sf_dir)
    customers = table(spark, sf_dir, "customer")
    assert semi.count() <= customers.count()
    # semi(orders) ∪ anti(orders>300k) may overlap; but anti ∩ semi-with-same-predicate = ∅
    orders_big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    semi_big = customers.join(
        orders_big, customers.c_custkey == orders_big.o_custkey, "left_semi"
    ).select("c_custkey")
    assert semi_big.intersect(anti.select("c_custkey")).count() == 0
    assert semi_big.count() + anti.count() == customers.count()


def test_rownumber_unique_per_partition(spark, sf_dir):
    df = QUERIES["q_window_rank"](spark, sf_dir)
    dup = df.groupBy("c_nationkey", "rn").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_explode_collect_roundtrip(spark, sf_dir):
    """posexplode ∘ collect_list = identity — the Spark equivalent of
    i3cols' data.npy+index.npy ↔ per-event-slice invariant
    (i3cols/cols.py::concatenate_and_index_cols semantics)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exploded = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    rebuilt = (
        exploded.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s.val,
            ).alias("embedding")
        )
    )
    diff = (
        emb.alias("a")
        .join(rebuilt.alias("b"), "vec_id")
        .filter(F.col("a.embedding") != F.col("b.embedding"))
    )
    assert diff.count() == 0
    assert rebuilt.count() == emb.count()


def test_approx_distinct_within_5pct(spark, sf_dir):
    """SURVEY §2.3 weak check for q_agg_approx_distinct: HLL ±5%.

    The query now emits the bound itself (within_5pct, oracle-checked
    since r8); this test keeps an INDEPENDENT recomputation of the raw
    estimate so a bug in the in-query bound expression can't
    self-certify."""
    ev = table(spark, sf_dir, "events")
    out = {
        r["event_type"]: (r["exact_users"], r["within_5pct"])
        for r in QUERIES["q_agg_approx_distinct"](spark, sf_dir).collect()
    }
    raw = {
        r["event_type"]: (r["n"], r["a"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
        )
        .collect()
    }
    for k, (n, a) in raw.items():
        assert abs(a - n) <= max(1, 0.05 * n), (k, a, n)
        assert out[k] == (n, True), (k, out[k], n)


def test_minhash_candidates_superset_of_high_jaccard(spark, sf_dir):
    """LSH recall check for q_dedup_near_minhash: every true pair with
    jaccard ≥ 0.9 must be caught by banding (16 perms / 4 bands ⇒
    P[miss] = (1-s⁴)⁴ < 1.6% at s=0.9; the fixture has few or no such
    pairs, so this asserts no false negatives without being vacuous
    about false positives, which the in-query verify already filters).
    """
    from i3cols_spark.functions.text import shingles

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", shingles("text").alias("sh")
    )
    a, b = docs.alias("a"), docs.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")).cast("double") / F.size(
        F.array_union("a.sh", "b.sh")
    )
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.9)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    from i3cols_spark.operators.dedup import minhash_pairs

    found = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    missed = truth.exceptAll(found)
    assert missed.count() == 0


def test_cluster_rep_modes_are_valid_clusterings(spark, sf_dir):
    """q_dedup_{ngram,minhash}_cluster_rep: each
    must emit exactly one row per document, rep_id must be the MIN
    doc_id of its own cluster (so reps are self-mapped), and the rep
    mapping must be consistent with the corresponding pair emitter:
    every emitted pair's two docs share a rep (pairs are edges inside
    clusters), and every exact-duplicate group is monochromatic."""
    n_docs = table(spark, sf_dir, "documents").count()
    from i3cols_spark.operators.dedup import minhash_cluster_members

    for rep_q, pair_q in (
        ("q_dedup_ngram_cluster_rep", "q_dedup_ngram_jaccard"),
        ("minhash_cluster_members", "minhash_pairs"),
    ):
        rep = (
            minhash_cluster_members(spark, sf_dir)
            if rep_q == "minhash_cluster_members"
            else QUERIES[rep_q](spark, sf_dir)
        )
        rows = {r["doc_id"]: r["rep_id"] for r in rep.collect()}
        assert len(rows) == n_docs, rep_q
        # rep_id is the min member of its cluster → self-mapped reps
        by_cluster: dict[int, list[int]] = {}
        for d, c in rows.items():
            by_cluster.setdefault(c, []).append(d)
        for c, members in by_cluster.items():
            assert min(members) == c, (rep_q, c, sorted(members)[:5])
        # pair emitter edges never cross clusters
        if pair_q == "minhash_pairs":
            from i3cols_spark.operators.dedup import minhash_pairs

            pair_df = minhash_pairs(spark, sf_dir)
        else:
            pair_df = QUERIES[pair_q](spark, sf_dir)
        pairs = pair_df.select("doc_a", "doc_b").collect()
        for p in pairs:
            assert rows[p["doc_a"]] == rows[p["doc_b"]], (rep_q, tuple(p))
        # identical texts land in one cluster
        dup_groups = (
            table(spark, sf_dir, "documents")
            .groupBy(F.md5(F.lower(F.trim("text"))).alias("h"))
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") >= 2)
            .collect()
        )
        for g in dup_groups:
            reps = {rows[d] for d in g["ids"]}
            assert len(reps) == 1, (rep_q, g["ids"][:5])


def test_simhash_deterministic_and_identical_for_dup_text(spark, sf_dir):
    from i3cols_spark.operators.dedup import simhash_sketches

    out1 = simhash_sketches(spark, sf_dir)
    out2 = simhash_sketches(spark, sf_dir)
    assert out1.exceptAll(out2).count() == 0
    # identical texts → identical simhash (join via md5 of normalized text)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("h")
    )
    joined = out1.join(docs, "doc_id")
    conflict = (
        joined.groupBy("h")
        .agg(F.countDistinct("simhash").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert conflict.count() == 0


def test_ann_lsh_results_subset_of_brute_force_universe(spark, sf_dir):
    """ANN candidates must be real vectors sharing the query's bucket,
    and their cosine values must agree with the exact query's values."""
    ann = {r["vec_id"]: r["cos_sim"] for r in QUERIES["q_similarity_ann_lsh"](spark, sf_dir).collect()}
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in QUERIES["q_similarity_knn_cosine"](spark, sf_dir).collect()
    }
    for vid, sim in ann.items():
        if vid in exact:
            assert abs(exact[vid] - sim) < 1e-9


def test_ann_ivf_results_agree_with_exact_cosines(spark, sf_dir):
    """IVF candidates are real vectors from probed cells; wherever a
    candidate also appears in the exact top-k, the cosine agrees."""
    ivf = QUERIES["q_similarity_ann_ivf"](spark, sf_dir).collect()
    assert len(ivf) == 5
    assert len({r["vec_id"] for r in ivf}) == 5
    sims = [r["cos_sim"] for r in ivf]
    assert sims == sorted(sims, reverse=True)
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in QUERIES["q_similarity_knn_cosine"](spark, sf_dir).collect()
    }
    for r in ivf:
        if r["vec_id"] in exact:
            assert abs(exact[r["vec_id"]] - r["cos_sim"]) < 1e-9


def test_ivf_lloyd_refinement_recall(spark, sf_dir):
    """The flagged k-means refinement (build_ivf_index refine_iters>0)
    must not lose recall vs the stride-sample seed
    at equal nprobe — averaged over several query vectors against the
    exact brute-force top-k (the LSH-recall pattern)."""
    import numpy as np

    from i3cols_spark.operators.similarity import ivf_topk
    from i3cols_spark.functions.vectors import as_double
    from i3cols_spark.sources.tables import table

    emb = {
        r["vec_id"]: np.asarray(r["v"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("v"))
        .collect()
    }
    ids = np.array(sorted(emb))
    mat = np.stack([emb[i] for i in ids])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = np.inf

    def exact_topk(qid: int, k: int = 5) -> set[int]:
        q = emb[qid]
        qn = np.linalg.norm(q) or np.inf
        sims = np.round((mat @ q) / (norms * qn), 6)
        order = np.lexsort((ids, -sims))
        ranked = [int(x) for x in ids[order] if x != qid]
        return set(ranked[:k])

    queries = [0, 7, 42, 101, 250]
    recalls = {0: [], 1: []}
    for refine in (0, 1):
        for qid in queries:
            got = {
                r["vec_id"]
                for r in ivf_topk(
                    spark, sf_dir, query_vec_id=qid, refine_iters=refine
                ).collect()
            }
            recalls[refine].append(len(got & exact_topk(qid)) / 5.0)
    seed_recall = sum(recalls[0]) / len(queries)
    refined_recall = sum(recalls[1]) / len(queries)
    assert seed_recall > 0
    assert refined_recall >= seed_recall, (recalls, "refinement lost recall")


def test_approx_percentile_within_rank_band(spark, sf_dir):
    """Weak check for q_agg_approx_percentile: each RAW estimate must
    fall between the exact (p-1%) and (p+1%) percentile values —
    computed here independently of the query, whose output is now the
    rank-bound boolean form and must be all-TRUE."""
    from pyspark.sql import functions as F

    from i3cols_spark.operators.stats import exact_percentiles
    from i3cols_spark.sources.tables import table

    for r in QUERIES["q_agg_approx_percentile"](spark, sf_dir).collect():
        assert r["p25_rank_ok"] and r["p50_rank_ok"] and r["p75_rank_ok"], r

    li = table(spark, sf_dir, "lineitem")
    q = F.approx_percentile(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        F.lit(10000),
    )
    approx = {
        r["l_returnflag"]: (r["__q"][0], r["__q"][1], r["__q"][2])
        for r in li.groupBy("l_returnflag").agg(q.alias("__q")).collect()
    }
    bands = {}
    for p in (0.25, 0.5, 0.75):
        lo_hi = exact_percentiles(
            li, "l_returnflag", "l_extendedprice",
            {"lo": max(p - 0.01, 0.0), "hi": min(p + 0.01, 1.0)},
        )
        for r in lo_hi.collect():
            bands.setdefault(r["l_returnflag"], []).append((r["lo"], r["hi"]))
    for flag, quartiles in approx.items():
        for est, (lo, hi) in zip(quartiles, bands[flag]):
            assert lo <= est <= hi, (flag, est, lo, hi)


def test_rep_pair_sims_label_type_follows_input(spark):
    """The pair stream's label column must carry the INPUT's label
    type: a hardcoded int overflowed bigint block keys and rejected
    string ones."""
    from i3cols_spark.operators.similarity import rep_pair_sims

    big = 10_000_000_000  # > int32
    rows = [(1, big, [1.0, 0.0]), (2, big, [1.0, 0.001]), (3, big + 1, [1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, label long, v array<double>")
    grp, sims = rep_pair_sims(emb, threshold=0.9)
    assert dict(sims.dtypes)["label"] == "bigint"
    out = {(r.a_id, r.b_id): r.label for r in sims.collect()}
    assert out == {(1, 2): big}  # cross-label pair (1,3) must not appear

    embs = spark.createDataFrame(
        [(1, "en", [1.0, 0.0]), (2, "en", [1.0, 0.001])],
        "vec_id long, label string, v array<double>",
    )
    _, sims_s = rep_pair_sims(embs, threshold=0.9)
    assert dict(sims_s.dtypes)["label"] == "string"
    assert [r.label for r in sims_s.collect()] == ["en"]


def test_pair_cells_bounded_under_residue_skew(spark):
    """Chunking hashes the id: ids that are all congruent mod the
    chunk count (a stride-sampled id space) must still spread across
    cells instead of collapsing into one."""
    import pyspark.sql.functions as F
    from i3cols_spark.operators.similarity import _CELL_CAP

    n = 64
    stride = 4  # ids ≡ 1 (mod 4); pmod(id, nch) would hit one residue
    emb = spark.range(n).select(
        (F.col("id") * stride + 1).alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(F.rand(seed=7), F.rand(seed=11)).alias("v"),
    )
    blk = emb.groupBy("label").agg(F.count("*").alias("blk_n"))
    reps = emb.join(F.broadcast(blk), "label")
    nch = F.greatest(F.lit(1), F.ceil(F.col("blk_n") / F.lit(stride))).cast("int")
    cells = (
        reps.withColumn("chunk", F.pmod(F.xxhash64("vec_id"), nch).cast("int"))
        .groupBy("chunk").count().collect()
    )
    assert len(cells) > 1, "skewed residues collapsed into one cell"
    assert max(r["count"] for r in cells) < n


def test_contamination_excludes_bench_and_flags_consistently(spark, sf_dir):
    """Benchmark docs must not appear in the output; the flag must be
    exactly n_contaminated > 0; contamination ∈ [0, 1]."""
    from i3cols_spark.operators.pipeline import _BENCH_MOD

    rows = QUERIES["q_text_contamination"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % _BENCH_MOD != 0
        assert r["flagged"] == (r["n_contaminated"] > 0)
        assert 0.0 <= r["contamination"] <= 1.0
        assert r["n_contaminated"] <= r["n_shingles"]


def test_pack_sequences_contiguous_and_conserving(spark, sf_dir):
    """Pack ids are dense from 0 within each source; total tokens are
    conserved; every non-final pack is FULL (its token sum crosses the
    budget once the straddling doc is counted)."""
    from collections import defaultdict

    from i3cols_spark.operators.pipeline import _PACK_BUDGET

    rows = QUERIES["q_pack_sequences"](spark, sf_dir).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
    for src, rs in by_src.items():
        seqs = sorted({r["pack_seq"] for r in rs})
        assert seqs == list(range(len(seqs))), src  # dense from 0
        packs = defaultdict(int)
        for r in rs:
            packs[r["pack_seq"]] += r["n_tokens"]
        # Contiguous packing invariant: a new pack opens only once the
        # running offset crosses the budget boundary, so the cumulative
        # token count through pack k must reach (k+1)×budget for every
        # non-final pack.
        cum = 0
        for seq in seqs[:-1]:
            cum += packs[seq]
            assert cum >= (seq + 1) * _PACK_BUDGET, (src, seq, cum)
    assert sum(r["n_tokens"] for r in rows) > 0


def test_quantize_error_bounded_by_step(spark, sf_dir):
    """int8 min-max quantization error per element is at most half a
    step, so mse ≤ (scale/2)² (+ rounding slack)."""
    rows = QUERIES["q_embedding_quantize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        bound = (r["scale"] / 2.0) ** 2 + 1e-9
        assert r["mse"] <= bound, (r["vec_id"], r["mse"], bound)
        assert 0 <= r["n_high"] <= 64


def test_keep_best_covers_each_group_once(spark, sf_dir):
    """Keep-best emits exactly one survivor per distinct normalized
    text, and group sizes sum to the corpus size."""
    from i3cols_spark.sources.tables import table

    rows = QUERIES["q_dedup_keep_best"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["group_size"] for r in rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_pair_engine_exact_under_single_giant_label(spark):
    """Adversarial skew: ALL vectors share one label (the worst block
    skew possible).  The cell-GEMM engine must still produce exactly
    the brute-force pair set — adaptive chunking changes the schedule,
    never the result — while cell sizes stay under _CELL_CAP."""
    import numpy as np

    from i3cols_spark.operators.similarity import blocked_pair_sims

    rng = np.random.default_rng(3)
    n, dim, thr = 400, 8, 0.9
    vecs = rng.standard_normal((n, dim))
    vecs[50] = vecs[40]  # exact duplicate pair rides along
    emb = spark.createDataFrame(
        [(i, 0, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, label int, v array<double>",
    )
    got = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in blocked_pair_sims(emb, threshold=thr).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    sims = np.round((vecs @ vecs.T) / np.outer(norms, norms), 6)
    want = {
        (a, b): sims[a, b]
        for a in range(n)
        for b in range(a + 1, n)
        if sims[a, b] >= thr
    }
    # identical pair (40,50) must be present at exactly 1.0
    assert want[(40, 50)] == 1.0
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, k


def test_chunking_reconstructs_documents(spark, sf_dir):
    """Lossless-coverage invariant of q_text_chunking: taking the first
    `stride` chars of every chunk plus the final chunk's tail
    reassembles each document exactly — no gap, no garble, regardless
    of partitioning."""
    from i3cols_spark.operators.pipeline import _CHUNK_STRIDE

    chunks = QUERIES["q_text_chunking"](spark, sf_dir)
    rebuilt = {}
    for r in chunks.orderBy("doc_id", "chunk_id").collect():
        prev = rebuilt.get(r["doc_id"], "")
        # each chunk starts at chunk_id*stride: keep the prefix up to
        # the next chunk's start, then let the final chunk overwrite
        # with its full text.
        rebuilt[r["doc_id"]] = prev[: r["chunk_start"]] + r["chunk_text"]
        assert r["chunk_start"] == r["chunk_id"] * _CHUNK_STRIDE
        assert r["chunk_len"] == len(r["chunk_text"])
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents").collect()
    }
    for doc_id, text in docs.items():
        if len(text) > 0:
            assert rebuilt[doc_id] == text, doc_id


def test_pii_scrub_is_idempotent_and_complete(spark, sf_dir):
    """After scrubbing, no PII pattern matches remain (completeness),
    so scrubbing a scrubbed corpus is the identity (idempotence); and
    every doc_id % 5 == 0 document had exactly one email found."""
    import re

    from i3cols_spark.operators.textops import _PII_EMAIL, _PII_PHONE

    out = QUERIES["q_text_pii_scrub"](spark, sf_dir).collect()
    email, phone = re.compile(_PII_EMAIL), re.compile(_PII_PHONE)
    for r in out:
        assert not email.search(r["scrubbed"]), r["doc_id"]
        assert not phone.search(r["scrubbed"]), r["doc_id"]
        if r["doc_id"] % 5 == 0:
            assert r["n_emails"] == 1 and "<EMAIL>" in r["scrubbed"]
        elif r["doc_id"] % 7 == 0:
            assert r["n_phones"] == 1 and "<PHONE>" in r["scrubbed"]
        else:
            assert r["n_emails"] == 0 and r["n_phones"] == 0


def test_knn_batch_agrees_with_single_query_knn(spark, sf_dir):
    """The batch path must reproduce the single-query brute-force
    result: its qid=0 block equals q_similarity_knn_cosine's top-5
    (same ordering key)."""
    batch = {
        (r["knn_rank"], r["vec_id"], r["cos_sim"])
        for r in QUERIES["q_similarity_knn_batch"](spark, sf_dir)
        .filter(F.col("qid") == 0)
        .collect()
    }
    single = {
        (i + 1, r["vec_id"], r["cos_sim"])
        for i, r in enumerate(
            QUERIES["q_similarity_knn_cosine"](spark, sf_dir).collect()[:5]
        )
    }
    assert batch == single


def test_wau_bounds_and_gapfill_density(spark, sf_dir):
    """WAU is sandwiched between daily actives and total users; the
    gap-fill spine is dense (consecutive days per user) and filled
    values are never null after the user's first observation."""
    ev = table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    wau = QUERIES["q_rolling_active_users"](spark, sf_dir).collect()
    assert all(1 <= r["wau"] <= n_users for r in wau)

    fill = QUERIES["q_ts_gapfill"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in fill:
        by_user.setdefault(r["user_id"], []).append(r)
    day_us = 86_400_000_000
    for rows in by_user.values():
        rows.sort(key=lambda r: r["day_us"])
        assert rows[0]["is_observed"]  # spine starts at first purchase
        for prev, cur in zip(rows, rows[1:]):
            assert cur["day_us"] - prev["day_us"] == day_us  # dense
        assert all(r["filled_value"] is not None for r in rows)


def test_retention_cohort_baseline_is_full(spark, sf_dir):
    """Week-0 of every cohort is 100% by construction (each user is
    active in their own first week), retention never exceeds 1, and
    per-cohort active counts never exceed the cohort size."""
    rows = QUERIES["q_retention_cohorts"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_active"] <= r["n_cohort"]
        assert 0.0 < r["retention"] <= 1.0
        if r["week_offset"] == 0:
            assert r["n_active"] == r["n_cohort"]


def test_scd2_intervals_tile_each_user_history(spark, sf_dir):
    """SCD2 invariants: per user, intervals are chronologically chained
    half-open ranges (each row's valid_to equals the next row's
    valid_from), exactly the last row is open/is_current, and no two
    rows overlap."""
    rows = QUERIES["q_scd2_intervals"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for history in by_user.values():
        history.sort(key=lambda r: (r["valid_from_us"], r["event_id"]))
        for prev, cur in zip(history, history[1:]):
            assert prev["valid_to_us"] == cur["valid_from_us"]
            assert not prev["is_current"]
        last = history[-1]
        assert last["is_current"] and last["valid_to_us"] is None


def test_funnel_walk_matches_bruteforce_on_random_sequences(spark):
    """The codegen funnel walk must agree with a straightforward
    Python walk on randomized event sequences — including same-µs
    ties, out-of-window conversions, and users with no funnel events."""
    import datetime
    import random

    from i3cols_spark.operators.stream_batch import funnel_stages

    rng = random.Random(1234)
    types = ["view", "click", "purchase", "refund", "login"]
    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for user in range(40):
        for _ in range(rng.randint(1, 12)):
            eid += 1
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(seconds=rng.randint(0, 3 * 86400)),
                    user,
                    rng.choice(types),
                    1.0,
                )
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )

    win = 24 * 3600 * 1_000_000
    expected: dict[int, int] = {}
    per_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[1], r[0])):
        per_user.setdefault(r[2], []).append(r)
    for user, evs in per_user.items():
        t1 = t2 = t3 = None
        for e in evs:
            us = int(e[1].timestamp() * 1_000_000)
            if t1 is None and e[3] == "view":
                t1 = us
            elif t2 is None and t1 is not None and e[3] == "click" and t1 < us <= t1 + win:
                t2 = us
            elif t3 is None and t2 is not None and e[3] == "purchase" and t2 < us <= t2 + win:
                t3 = us
        stage = 3 if t3 else 2 if t2 else 1 if t1 else 0
        expected[stage] = expected.get(stage, 0) + 1

    got = {r["funnel_stage"]: r["n_users"] for r in funnel_stages(df).collect()}
    assert got == expected


def test_transition_probabilities_normalize(spark, sf_dir):
    """Each from_type's outgoing probabilities sum to 1 and every
    count is positive — the row-stochastic invariant of a transition
    matrix."""
    rows = QUERIES["q_event_transitions"](spark, sf_dir).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        assert r["n_transitions"] > 0
        assert 0.0 < r["p_transition"] <= 1.0
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["p_transition"]
    assert by_from, "no transitions at all"
    for ft, total in by_from.items():
        assert abs(total - 1.0) < 1e-9, (ft, total)


def test_interpolation_brackets_observations(spark, sf_dir):
    """Interpolated values lie within [min, max] of the two bracketing
    observations; observed days pass through unchanged; and the fill
    is exact at the endpoints (first/last day are always observed
    because the spine spans min..max observed day)."""
    rows = QUERIES["q_ts_interpolate"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["day_us"])
        assert rs[0]["is_observed"] and rs[-1]["is_observed"], uid
        obs = [(i, r["interp_value"]) for i, r in enumerate(rs) if r["is_observed"]]
        for (i0, v0), (i1, v1) in zip(obs, obs[1:]):
            lo, hi = min(v0, v1), max(v0, v1)
            for j in range(i0 + 1, i1):
                v = rs[j]["interp_value"]
                assert lo - 1e-9 <= v <= hi + 1e-9, (uid, j, v, lo, hi)


def test_snapshot_diff_conserves_events(spark, sf_dir):
    """n_before + n_after sums to the total event count, statuses are
    consistent with the counts, and every user appears exactly once."""
    rows = QUERIES["q_snapshot_diff"](spark, sf_dir).collect()
    total = table(spark, sf_dir, "events").count()
    users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert len(rows) == users
    assert sum(r["n_before"] + r["n_after"] for r in rows) == total
    for r in rows:
        if r["diff_status"] == "added":
            assert r["n_before"] == 0 and r["n_after"] > 0
        elif r["diff_status"] == "churned":
            assert r["n_before"] > 0 and r["n_after"] == 0
        elif r["diff_status"] == "changed":
            assert 0 < r["n_before"] != r["n_after"] > 0
        else:
            assert r["n_before"] == r["n_after"] > 0


def test_bloom_prefilter_has_no_false_negatives(spark, sf_dir):
    """The prefiltered row set is a SUPERSET of the exact semi-join
    result (Bloom filters can only err toward false positives), and
    the final result equals the exact join."""
    from pyspark.sql import functions as F

    from i3cols_spark.operators.joins import _bloom_probe, _BLOOM_K, _BLOOM_M

    keys = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    exact = {
        r["o_orderkey"]
        for r in table(spark, sf_dir, "orders")
        .join(keys, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .collect()
    }
    result = {
        r["o_orderkey"]
        for r in QUERIES["q_join_bloom_prefilter"](spark, sf_dir).collect()
    }
    assert result == exact
    # rebuild just the prefilter stage to check the superset property
    pos = keys.select(
        F.explode(
            F.array(*[
                F.pmod(F.xxhash64("c_custkey", F.lit(s)), F.lit(_BLOOM_M))
                for s in range(_BLOOM_K)
            ])
        ).alias("pos")
    )
    words = pos.groupBy(F.expr("CAST(pos DIV 64 AS INT)").alias("word")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("mask")
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bloom")
    )
    pre = {
        r["o_orderkey"]
        for r in table(spark, sf_dir, "orders")
        .crossJoin(F.broadcast(bloom))
        .filter(_bloom_probe("o_custkey"))
        .collect()
    }
    assert pre >= exact


def test_point_in_time_never_leaks_future_versions(spark, sf_dir):
    """Feature-store correctness: every matched version's valid_from
    must be ≤ the probe's timestamp (no future leakage), and the
    matched version must be the LATEST such version."""
    from pyspark.sql import functions as F

    pit = {
        (r["user_id"], r["event_id"]): (r["ver_id"], r["click_us"])
        for r in QUERIES["q_join_point_in_time"](spark, sf_dir).collect()
    }
    dims = {}
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .collect()
    ):
        dims.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    for (uid, _eid), (ver_id, click_us) in pit.items():
        versions = sorted(dims.get(uid, []))
        eligible = [(us, vid) for us, vid in versions if us <= click_us]
        if ver_id is None:
            assert not eligible, (uid, click_us)
        else:
            assert eligible and eligible[-1][1] == ver_id, (uid, click_us)


def test_containment_bounds_and_directionality(spark, sf_dir):
    """Containment lies in (0, 1], pairs are directional (sub ≠
    super), and no pair is reported twice."""
    rows = QUERIES["q_dedup_containment"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert 0.0 < r["containment"] <= 1.0
        assert r["doc_sub"] != r["doc_super"]
        key = (r["doc_sub"], r["doc_super"])
        assert key not in seen
        seen.add(key)


def test_sessionid_islands_respect_gap_rule(spark, sf_dir):
    """Within a session, consecutive gaps are ≤ 30 min; across a
    session boundary the gap is > 30 min; ids start at 0 and are
    contiguous per user."""
    rows = QUERIES["q_window_sessionid"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gap = 1_800_000_000
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: (r["us"], r["event_id"]))
        assert rs[0]["session_id"] == 0, uid
        for prev, cur in zip(rs, rs[1:]):
            delta = cur["us"] - prev["us"]
            if cur["session_id"] == prev["session_id"]:
                assert delta <= gap, uid
            else:
                assert cur["session_id"] == prev["session_id"] + 1, uid
                assert delta > gap, uid


def test_entropy_bounds(spark, sf_dir):
    """0 ≤ H ≤ ln(n_types), with H = 0 iff a single type."""
    import math

    rows = QUERIES["q_agg_entropy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["entropy"] <= math.log(r["n_types"]) + 1e-6, r
        if r["n_types"] == 1:
            assert r["entropy"] == 0.0


def test_fuzzy_join_blocked_matches_unblocked_within_block_keys(spark, sf_dir):
    """The blocked fuzzy join must equal the brute-force cross join
    restricted to equal blocking keys — i.e. blocking loses ONLY
    cross-block pairs, never an in-block match."""
    from pyspark.sql import functions as F

    got = {
        (r["c_custkey"], r["s_suppkey"], r["edit_dist"])
        for r in QUERIES["q_join_fuzzy_names"](spark, sf_dir).collect()
    }
    cust = [
        (r["c_custkey"], r["c_name"][9:18])
        for r in table(spark, sf_dir, "customer").collect()
    ]
    supp = [
        (r["s_suppkey"], r["s_name"][9:18])
        for r in table(spark, sf_dir, "supplier").collect()
    ]

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (ck, sk, lev(cs, ss))
        for ck, cs in cust
        for sk, ss in supp
        if cs[:6] == ss[:6] and lev(cs, ss) <= 1
    }
    assert got == want


def test_ivfpq_rerank_is_exact_and_recalls_ivf_top5(spark, sf_dir):
    """IVF-PQ contract: emitted similarities are EXACT (the re-rank),
    and the PQ shortlist recovers the plain-IVF top-5 on the fixture
    (measured 5/5 at sf0.001 and sf0.01; floor 4 leaves noise room).
    Both run the same probed cells, so this isolates the PQ
    shortlist's recall."""
    from i3cols_spark.operators.similarity import ivfpq_topk

    pq = {
        r["vec_id"]: r["cos_sim"]
        for r in ivfpq_topk(spark, sf_dir).collect()
    }
    ivf = {
        r["vec_id"]: r["cos_sim"]
        for r in QUERIES["q_similarity_ann_ivf"](spark, sf_dir).collect()
    }
    assert len(pq) == 5
    shared = set(pq) & set(ivf)
    assert len(shared) >= 4, (sorted(pq), sorted(ivf))
    for v in shared:
        assert pq[v] == ivf[v], (v, pq[v], ivf[v])


def test_bpe_learning_properties(spark, sf_dir):
    """Independent checks on the BPE pair beyond the oracle: the
    round-1 merge must be the argmax of an INDEPENDENTLY computed raw
    bigram count (so the in-query pair counting can't self-certify),
    every document's BPE token count sits in [n_words, n_chars], and
    compression ≥ 1 with equality only if nothing merged."""
    from collections import Counter

    from i3cols_spark.operators import QUERIES
    from i3cols_spark.sources.tables import table

    merges = {
        r["round"]: (r["s1"], r["s2"], r["freq"])
        for r in QUERIES["q_text_bpe_merges"](spark, sf_dir).collect()
    }
    texts = [
        r["text"] for r in table(spark, sf_dir, "documents").select("text").collect()
    ]
    raw = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            for a, b in zip(w, w[1:]):
                raw[(a, b)] += 1
    best, top_freq = sorted(raw.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert merges[1] == (best[0], best[1], top_freq), (merges[1], best, top_freq)

    tok = {
        r["doc_id"]: r
        for r in QUERIES["q_text_bpe_tokenize"](spark, sf_dir).collect()
    }
    assert len(tok) > 0
    for r in tok.values():
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_char_tokens"], r
        assert r["compression"] >= 1.0, r


def test_bpe_deep_trajectory_32_merges(spark, sf_dir):
    """The learner takes any merge budget, not
    just the oracle's 4-round unroll.  32 merges on the fixture, with
    the exact telescoped conservation law — every merge round removes
    exactly ``freq`` symbols from the weighted corpus, so

        initial_weighted_chars - sum(freq_r) == final_weighted_syms

    — plus max-pair-frequency monotonicity (a merge can only create
    pairs whose counts are bounded by existing adjacent counts) and
    the tokenize round-trip (stripping the 0x1f markers from the
    final sequence reconstructs the word)."""
    from pyspark.sql import functions as F

    from i3cols_spark.operators.textops import _BPE_M, bpe_learn
    from i3cols_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    merges, w = bpe_learn(spark, docs, 32)
    assert 1 <= len(merges) <= 32
    if len(merges) == 32:
        rounds = [r for r, *_ in merges]
        assert rounds == list(range(1, 33))

    freqs = [f for *_, f in merges]
    assert all(a >= b for a, b in zip(freqs, freqs[1:])), freqs

    final = w.select(
        F.sum(
            F.col("cnt")
            * F.size(
                F.split(
                    F.substr(F.col("seq"), F.lit(2), F.length("seq") - 2),
                    _BPE_M + _BPE_M,
                )
            )
        ).alias("syms"),
        F.sum(F.col("cnt") * F.length("word")).alias("chars"),
        F.sum(
            F.when(
                F.replace(F.col("seq"), F.lit(_BPE_M), F.lit(""))
                != F.col("word"),
                1,
            ).otherwise(0)
        ).alias("bad_roundtrip"),
    ).collect()[0]
    assert final["bad_roundtrip"] == 0
    assert final["chars"] - sum(freqs) == final["syms"], (
        final["chars"], sum(freqs), final["syms"]
    )


def test_bpe_empty_word_cross_engine_parity(spark, tmp_path):
    """An empty/whitespace-only document used to mint a
    phantom ('','') pair on the Spark side (sequence(0,-1) descends)
    while the oracle's range(0) stayed empty.  Both engines now filter
    empty words; full cross-engine compare on a fixture that contains
    the degenerate docs pins the fix."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from i3cols_spark.compare import compare_query
    from i3cols_spark.operators import ORACLES, QUERIES
    from i3cols_spark.sources.tables import TABLES
    from tests.conftest import SF_DIR

    d = str(tmp_path / "emptydoc")
    os.makedirs(d)
    texts = ["", "   ", "the cat sat", "the cat ran", "a cat sat  "]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{d}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", f"{d}/{t}.parquet")
    for name in ("q_text_bpe_merges", "q_text_bpe_tokenize"):
        compare_query(
            QUERIES[name](spark, d), ORACLES[name], d, f"{name}[empty-doc]"
        )


def test_holt_winters_recurrence_matches_numpy(spark, sf_dir):
    """q_ts_holt_winters: re-run the level/trend recurrence in plain
    Python from the collected daily series — every emitted level,
    trend and one-step forecast must match the independent
    recomputation (6 dp), and the first row must carry the y0/(y1-y0)
    initialization with a NULL forecast."""
    rows = sorted(
        (r["day_us"], r["y"], r["level"], r["trend"], r["fitted"])
        for r in QUERIES["q_ts_holt_winters"](spark, sf_dir).collect()
    )
    assert len(rows) >= 3
    ys = [r[1] for r in rows]
    level, trend = ys[0], ys[1] - ys[0]
    assert rows[0][2] == round(level, 6) and rows[0][3] == round(trend, 6)
    assert rows[0][4] is None
    for t in range(1, len(rows)):
        fitted = level + trend
        new_level = 0.5 * ys[t] + 0.5 * fitted
        trend = 0.25 * (new_level - level) + 0.75 * trend
        level = new_level
        assert rows[t][2] == round(level, 6), (t, rows[t])
        assert rows[t][3] == round(trend, 6), (t, rows[t])
        assert rows[t][4] == round(fitted, 6), (t, rows[t])


def test_maxsim_matches_numpy_brute_force(spark, sf_dir):
    """q_similarity_maxsim: the top-5 and their scores must equal a
    numpy reimplementation of the ColBERT MaxSim rule over the same
    8×8 token view."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    q = emb[0].reshape(8, 8)
    scores = {}
    for vid, v in emb.items():
        if vid == 0:
            continue
        d = v.reshape(8, 8)
        sims = q @ d.T  # [i, j] = dot(q_i, d_j)
        scores[vid] = round(float(sims.max(axis=1).sum()), 6)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [
        (r["vec_id"], r["maxsim"])
        for r in QUERIES["q_similarity_maxsim"](spark, sf_dir).collect()
    ]
    assert [v for v, _ in got] == [v for v, _ in want], (got, want)
    for (gv, gs), (wv, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6, (gv, gs, ws)


def test_pack_sequences_bpe_consistent_with_tokenize_and_budget(spark, sf_dir):
    """q_pack_sequences_bpe: its per-doc token prices must equal
    q_text_bpe_tokenize's n_bpe_tokens exactly, packs must be
    contiguous (non-decreasing pack_seq in doc order per source), and
    each pack's START offset must sit below the budget boundary its
    id names (first-fit running-offset semantics)."""
    from i3cols_spark.operators.pipeline import _PACK_BUDGET

    packed = QUERIES["q_pack_sequences_bpe"](spark, sf_dir).collect()
    priced = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in QUERIES["q_text_bpe_tokenize"](spark, sf_dir).collect()
    }
    assert len(packed) == len(priced)
    for r in packed:
        assert r["n_bpe_tokens"] == priced[r["doc_id"]], r

    by_source: dict[str, list] = {}
    for r in sorted(packed, key=lambda r: (r["source"], r["doc_id"])):
        by_source.setdefault(r["source"], []).append(r)
    for source, rows in by_source.items():
        offset = 0
        prev_seq = 0
        for r in rows:
            want_seq = offset // _PACK_BUDGET
            assert r["pack_seq"] == want_seq, (source, dict(r), offset)
            assert r["pack_seq"] >= prev_seq
            assert r["pack_id"] == f"{source}/{want_seq}"
            prev_seq = r["pack_seq"]
            offset += r["n_bpe_tokens"]


def _rhu(x: float, dp: int) -> float:
    """HALF_UP rounding matching functions/rounding.py (python round()
    is half-to-even and would diverge on exact boundaries)."""
    import math

    s = 10.0**dp
    return math.floor(x * s + 0.5) / s


def test_hybrid_rrf_consistent_with_component_rankers(spark, sf_dir):
    """q_similarity_hybrid_rrf: every fused score must equal the RRF
    formula applied to its own rank columns, ranks must be valid
    (1..depth, unique per ranker), and the lexical rank-1 doc must be
    BM25's own top hit."""
    rows = QUERIES["q_similarity_hybrid_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        want = (1.0 / (60 + r["rank_lex"]) if r["rank_lex"] else 0.0) + (
            1.0 / (60 + r["rank_dense"]) if r["rank_dense"] else 0.0
        )
        assert abs(r["rrf"] - want) <= 2e-6, r
        assert r["rank_lex"] is not None or r["rank_dense"] is not None
        for k in ("rank_lex", "rank_dense"):
            assert r[k] is None or 1 <= r[k] <= 50
    lex1 = [r["doc_id"] for r in rows if r["rank_lex"] == 1]
    if lex1:
        bm = QUERIES["q_text_bm25_search"](spark, sf_dir).collect()
        assert lex1 == [bm[0]["doc_id"]]


def test_tfidf_cosine_matches_python_brute_force(spark, sf_dir):
    """q_text_tfidf_cosine: the top-20 pairs and their cosines must
    equal an independent all-pairs python recomputation of the
    3-gram-shingle TF-IDF space (df ≤ 200)."""
    import math
    from collections import Counter

    docs = {
        r["doc_id"]: r["text"].strip().lower().split()
        for r in table(spark, sf_dir, "documents").collect()
    }
    vecs = {}
    for d, toks in docs.items():
        n = max(len(toks) - 2, 1)
        vecs[d] = Counter(" ".join(toks[i : i + 3]) for i in range(n))
    df = Counter(t for v in vecs.values() for t in v)
    nd = len(docs)
    w = {
        d: {t: c * math.log(nd / df[t]) for t, c in v.items() if df[t] <= 200}
        for d, v in vecs.items()
    }
    n2 = {d: _rhu(sum(x * x for x in v.values()), 9) for d, v in w.items()}
    sims = []
    ids = sorted(w)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = set(w[a]) & set(w[b])
            if not shared:
                continue
            num = _rhu(sum(w[a][t] * w[b][t] for t in shared), 9)
            sims.append(
                (a, b, len(shared), num / (math.sqrt(n2[a]) * math.sqrt(n2[b])))
            )
    want = sorted(sims, key=lambda s: (-round(s[3], 6), s[0], s[1]))[:20]
    got = [
        (r["doc_a"], r["doc_b"], r["n_shared"], r["cos_sim"])
        for r in QUERIES["q_text_tfidf_cosine"](spark, sf_dir).collect()
    ]
    assert [(g[0], g[1], g[2]) for g in got] == [(x[0], x[1], x[2]) for x in want]
    for g, x in zip(got, want):
        assert abs(g[3] - x[3]) <= 2e-6, (g, x)


def test_graph_hits_matches_python(spark, sf_dir):
    """q_graph_hits: both top-20 lists must match a python
    recomputation of the 2-round max-normalized mutual reinforcement
    over the distinct customer→supplier edge set."""
    from collections import defaultdict

    o = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table(spark, sf_dir, "orders").collect()
    }
    edges = sorted(
        {
            (o[r["l_orderkey"]], r["l_suppkey"])
            for r in table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_suppkey")
            .collect()
            if r["l_orderkey"] in o
        }
    )

    def half_step(score, src_side, dp):
        raw = defaultdict(float)
        for c, s in edges:
            if src_side == "cust":
                raw[s] += score.get(c, 0.0)
            else:
                raw[c] += score.get(s, 0.0)
        raw = {k: _rhu(v, 12) for k, v in raw.items()}
        mx = max(raw.values())
        return {k: _rhu(v / mx, dp) for k, v in raw.items()}

    h0 = {c: 1.0 for c, _ in edges}
    a1 = half_step(h0, "cust", 12)
    h1 = half_step(a1, "supp", 12)
    a2 = half_step(h1, "cust", 6)
    h2 = half_step(a2, "supp", 6)
    want_a = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want_h = sorted(h2.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = QUERIES["q_graph_hits"](spark, sf_dir).collect()
    got_a = [(r["node"], r["score"]) for r in got if r["kind"] == "auth"]
    got_h = [(r["node"], r["score"]) for r in got if r["kind"] == "hub"]
    assert [n for n, _ in got_a] == [n for n, _ in want_a]
    assert [n for n, _ in got_h] == [n for n, _ in want_h]
    for gl, wl in ((got_a, want_a), (got_h, want_h)):
        for (gn, gs), (wn, ws) in zip(gl, wl):
            assert abs(gs - ws) <= 2e-6, (gn, gs, ws)


def test_embedding_outliers_matches_numpy(spark, sf_dir):
    """q_embedding_outliers: flagged set and z-scores must match a
    numpy recomputation (same staged rounding)."""
    import numpy as np

    rows = table(spark, sf_dir, "embeddings").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        )
    want = []
    for lbl, vs in by_label.items():
        cent = np.round(np.mean([v for _, v in vs], axis=0), 9)
        dists = {
            vid: float(np.sqrt(_rhu(float(((v - cent) ** 2).sum()), 9)))
            for vid, v in vs
        }
        mu = _rhu(float(np.mean(list(dists.values()))), 9)
        sg = _rhu(float(np.std(list(dists.values()))), 9)
        for vid, d in dists.items():
            z = _rhu((d - mu) / sg, 6) if sg > 0 else 0.0
            if abs(z) > 2:
                want.append((lbl, vid, z))
    got = [
        (r["label"], r["vec_id"], r["z"])
        for r in QUERIES["q_embedding_outliers"](spark, sf_dir).collect()
    ]
    assert sorted((l, v) for l, v, _ in want) == [(l, v) for l, v, _ in got]
    wz = {(l, v): z for l, v, z in want}
    for l, v, z in got:
        assert abs(z - wz[(l, v)]) <= 2e-6, (l, v, z)


def test_gopher_rules_matches_python(spark, sf_dir):
    """q_text_gopher_rules: per-doc features must match a direct
    python recomputation, and keep must be the conjunction of the
    five published rules."""
    from i3cols_spark.operators.textops import _GOPHER_STOPWORDS

    docs = {
        r["doc_id"]: r["text"].strip().lower()
        for r in table(spark, sf_dir, "documents").collect()
    }
    got = {
        r["doc_id"]: r
        for r in QUERIES["q_text_gopher_rules"](spark, sf_dir).collect()
    }
    assert set(got) == {d for d, t in docs.items() if t.split()}
    for d, txt in docs.items():
        toks = [w for w in txt.split() if w]
        if not toks:
            continue
        n = len(toks)
        r = got[d]
        assert r["n_words"] == n
        mean_wlen = _rhu(sum(map(len, toks)) / n, 6)
        frac_alpha = _rhu(
            sum(1 for w in toks if any(c.isalpha() for c in w)) / n, 6
        )
        n_sym = txt.count("#") + txt.count("...")
        sym_ratio = _rhu(n_sym / n, 6)
        n_stop = len(set(toks) & set(_GOPHER_STOPWORDS))
        assert abs(r["mean_wlen"] - mean_wlen) <= 1e-9
        assert abs(r["frac_alpha"] - frac_alpha) <= 1e-9
        assert abs(r["sym_ratio"] - sym_ratio) <= 1e-9
        assert r["n_stop"] == n_stop
        keep = (
            50 <= n <= 100_000
            and 3 <= mean_wlen <= 10
            and sym_ratio <= 0.1
            and frac_alpha >= 0.8
            and n_stop >= 2
        )
        assert r["keep"] == keep, (d, r)


def test_sax_symbolic_matches_python(spark, sf_dir):
    """q_ts_sax_symbolic: every emitted word must match a python
    recomputation (first 64 events by (ts, event_id), z-norm with the
    staged 9 dp rounding, PAA-8, breakpoints ±0.6745/0), and users
    with < 64 events must be absent."""
    import math

    ev = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["value"])
            for r in table(spark, sf_dir, "events").collect()
        ),
        key=lambda x: (x[0], x[1], x[2]),
    )
    series = {}
    for u, _, _, v in ev:
        series.setdefault(u, []).append(v)
    want = {}
    for u, vals in series.items():
        if len(vals) < 64:
            continue
        s = vals[:64]
        mu = _rhu(sum(s) / 64, 9)
        sg = _rhu(math.sqrt(sum((x - mu) ** 2 for x in s) / 64), 9)
        z = [(x - mu) / sg if sg > 0 else 0.0 for x in s]
        word = ""
        for seg in range(8):
            m = _rhu(sum(z[seg * 8 : seg * 8 + 8]) / 8, 9)
            word += "a" if m < -0.6745 else "b" if m < 0 else "c" if m < 0.6745 else "d"
        want[u] = word
    got = {
        r["user_id"]: r["sax"]
        for r in QUERIES["q_ts_sax_symbolic"](spark, sf_dir).collect()
    }
    assert got == want


def test_sample_temperature_matches_python(spark, sf_dir):
    """q_sample_temperature: the α=0.7 policy table must match a
    python recomputation, shares must sum to ~1, and the temperature
    must compress the spread (max/min of q_temp ≤ max/min of p)."""
    from collections import Counter

    langs = Counter(
        r["lang"] for r in table(spark, sf_dir, "documents").collect()
    )
    n = sum(langs.values())
    sc = {l: (c / n) ** 0.7 for l, c in langs.items()}
    zsum = _rhu(sum(sc.values()), 9)
    rows = QUERIES["q_sample_temperature"](spark, sf_dir).collect()
    assert sorted(r["lang"] for r in rows) == sorted(langs)
    for r in rows:
        q = sc[r["lang"]] / zsum
        assert abs(r["q_temp"] - q) <= 2e-6
        assert r["n_docs"] == langs[r["lang"]]
        assert r["target_n"] == int((round(q, 6) * n + 0.5) // 1)
        assert abs(r["epochs"] - _rhu(r["target_n"] / r["n_docs"], 6)) <= 1e-9
    ps = [r["p"] for r in rows]
    qs = [r["q_temp"] for r in rows]
    assert abs(sum(qs) - 1.0) <= 1e-4
    assert max(qs) / min(qs) <= max(ps) / min(ps) + 1e-9


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_dir):
    """q_text_ngram_novelty: the smallest doc_id is 100% novel by
    construction; per-doc 0 ≤ n_novel ≤ n_shingles; and Σ n_novel
    over all docs equals the distinct-shingle vocabulary size."""
    rows = QUERIES["q_text_ngram_novelty"](spark, sf_dir).collect()
    first = min(rows, key=lambda r: r["doc_id"])
    assert first["n_novel"] == first["n_shingles"]
    assert first["novelty"] == 1.0
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_shingles"]
    from i3cols_spark.functions.text import shingles

    vocab = (
        table(spark, sf_dir, "documents")
        .select(F.explode(shingles("text")).alias("t"))
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == vocab


def test_dim_truncation_recall_sane_and_self_consistent(spark, sf_dir):
    """q_similarity_dim_truncation: recall@k = n_overlap/k, overlap
    is monotone non-decreasing in k, and recall@k = 1 would require
    the truncated ranking to agree exactly — verify overlap counts
    against an independent numpy recomputation of both rankings."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    q = emb[0]

    def topk(dim):
        scored = []
        for vid, v in emb.items():
            if vid == 0:
                continue
            a, b = v[:dim], q[:dim]
            c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            scored.append((vid, round(c, 6)))
        scored.sort(key=lambda t: (-t[1], t[0]))
        return [vid for vid, _ in scored[:10]]

    full, trunc = topk(64), topk(16)
    rows = sorted(
        QUERIES["q_similarity_dim_truncation"](spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    prev = 0
    for r in rows:
        k = r["k"]
        want = len(set(full[:k]) & set(trunc[:k]))
        assert r["n_overlap"] == want, (k, r["n_overlap"], want)
        assert r["n_overlap"] >= prev
        prev = r["n_overlap"]
        assert abs(r["recall_at_k"] - _rhu(r["n_overlap"] / k, 6)) <= 1e-9


def test_spearman_matches_scipy_free_recomputation(spark, sf_dir):
    """q_stats_spearman: ρ must equal a numpy average-rank
    recomputation (no scipy in the container), and Spearman of a
    strictly monotone transform of x against x must be 1."""
    import numpy as np

    rows = (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_extendedprice")
        .collect()
    )
    x = np.array([r["l_quantity"] for r in rows])
    y = np.array([r["l_extendedprice"] for r in rows])

    def avg_ranks(v):
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v), dtype=np.float64)
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        return ranks

    rho = float(np.corrcoef(avg_ranks(x), avg_ranks(y))[0, 1])
    got = QUERIES["q_stats_spearman"](spark, sf_dir).collect()[0]
    assert got["n"] == len(rows)
    assert abs(got["spearman_rho"] - rho) <= 2e-6


def test_kmeans_update_matches_numpy(spark, sf_dir):
    """q_embedding_kmeans_update: populations before/after and the
    centroid shifts must match a numpy Lloyd iteration with the same
    staged rounding (dist 6 dp before each argmin, means 9 dp)."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    cents = {
        vid: emb[vid]
        for vid in sorted(v for v in emb if v % 25 == 0)[:8]
    }

    def assign(cs):
        out = {}
        for vid, v in emb.items():
            best = min(
                (round(float(np.linalg.norm(v - c)), 6), cid)
                for cid, c in cs.items()
            )
            out[vid] = best[1]
        return out

    a1 = assign(cents)
    new = {}
    for cid in cents:
        members = [emb[v] for v, c in a1.items() if c == cid]
        if members:
            new[cid] = np.round(np.mean(members, axis=0), 9)
    a2 = assign(new)
    rows = QUERIES["q_embedding_kmeans_update"](spark, sf_dir).collect()
    assert [r["centroid_id"] for r in rows] == sorted(new)
    for r in rows:
        cid = r["centroid_id"]
        assert r["n_before"] == sum(1 for c in a1.values() if c == cid)
        assert r["n_after"] == sum(1 for c in a2.values() if c == cid)
        want = round(float(np.linalg.norm(cents[cid] - new[cid])), 6)
        assert abs(r["shift"] - want) <= 2e-6


def test_modularity_matches_python(spark, sf_dir):
    """q_graph_modularity: per-community terms and global Q must match
    a python recomputation, and Q must satisfy the definition bounds
    (−0.5 ≤ Q < 1)."""
    o = {r["o_orderkey"]: r["o_custkey"] for r in table(spark, sf_dir, "orders").collect()}
    cn = {r["c_custkey"]: r["c_nationkey"] for r in table(spark, sf_dir, "customer").collect()}
    sn = {r["s_suppkey"]: r["s_nationkey"] for r in table(spark, sf_dir, "supplier").collect()}
    edges = {
        (o[r["l_orderkey"]], r["l_suppkey"])
        for r in table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect()
        if r["l_orderkey"] in o
    }
    m = len(edges)
    from collections import Counter

    e_c, deg = Counter(), Counter()
    for c, s in edges:
        if cn[c] == sn[s]:
            e_c[cn[c]] += 1
        deg[cn[c]] += 1
        deg[sn[s]] += 1
    rows = QUERIES["q_graph_modularity"](spark, sf_dir).collect()
    assert [r["community"] for r in rows] == sorted(deg)
    q = 0.0
    for r in rows:
        com = r["community"]
        assert r["e_c"] == e_c.get(com, 0)
        assert r["deg_c"] == deg[com]
        term = _rhu(e_c.get(com, 0) / m - (deg[com] / (2 * m)) ** 2, 9)
        assert abs(r["q_term"] - term) <= 2e-9
        q += term
    assert abs(rows[0]["q_modularity"] - q) <= 2e-6
    assert -0.5 <= rows[0]["q_modularity"] < 1


def test_heaps_law_curve_monotone_and_fit_consistent(spark, sf_dir):
    """q_text_heaps_law: tokens and vocab must be monotone in the
    decile, the final decile must equal corpus totals, and the
    (K, β) fit must reproduce the log-log OLS of the emitted points."""
    import math

    rows = sorted(
        QUERIES["q_text_heaps_law"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    for i in range(1, len(rows)):
        assert rows[i]["n_tokens"] >= rows[i - 1]["n_tokens"]
        assert rows[i]["n_vocab"] >= rows[i - 1]["n_vocab"]
    docs = {
        r["doc_id"]: r["text"].strip().lower().split()
        for r in table(spark, sf_dir, "documents").collect()
    }
    total_tokens = sum(max(len(t) - 2, 1) for t in docs.values())
    vocab = {
        " ".join(t[i : i + 3])
        for t in docs.values()
        for i in range(max(len(t) - 2, 1))
    }
    last = rows[-1]
    assert last["n_tokens"] == total_tokens
    assert last["n_vocab"] == len(vocab)
    lt = [math.log(r["n_tokens"]) for r in rows]
    lv = [math.log(r["n_vocab"]) for r in rows]
    n = len(rows)
    mlt, mlv = sum(lt) / n, sum(lv) / n
    beta = (sum(a * b for a, b in zip(lt, lv)) / n - mlt * mlv) / (
        sum(a * a for a in lt) / n - mlt * mlt
    )
    assert abs(rows[0]["heaps_beta"] - beta) <= 1e-4
    assert 0 < rows[0]["heaps_beta"] <= 1.5


def test_kendall_tau_matches_python_contingency(spark, sf_dir):
    """q_stats_kendall_tau: C, D, tie terms and τ-b must match a
    python contingency-table recomputation, and τ must agree in SIGN
    with the emitted Spearman ρ on the same monotone question when
    both are away from 0."""
    from collections import Counter

    rows = (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_discount")
        .collect()
    )
    cells = Counter((r["l_quantity"], r["l_discount"]) for r in rows)
    items = list(cells.items())
    conc = disc = 0
    for i, ((x1, y1), n1_) in enumerate(items):
        for (x2, y2), n2_ in items[i + 1 :]:
            if (x2 > x1 and y2 > y1) or (x2 < x1 and y2 < y1):
                conc += n1_ * n2_
            elif (x2 > x1 and y2 < y1) or (x2 < x1 and y2 > y1):
                disc += n1_ * n2_
    n = len(rows)
    n0 = n * (n - 1) // 2
    tx = Counter(x for x, _ in cells.elements())
    ty = Counter(y for _, y in cells.elements())
    n1 = sum(t * (t - 1) // 2 for t in tx.values())
    n2 = sum(t * (t - 1) // 2 for t in ty.values())
    got = QUERIES["q_stats_kendall_tau"](spark, sf_dir).collect()[0]
    assert (got["n"], got["n0"], got["n1"], got["n2"]) == (n, n0, n1, n2)
    assert (got["conc"], got["disc"]) == (conc, disc)
    import math

    tau = (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))
    assert abs(got["tau_b"] - tau) <= 2e-6


def test_kcenter_matches_python_greedy(spark, sf_dir):
    """q_sample_kcenter: the 8 selections and covering distances must
    match a python farthest-point recomputation, and the covering
    radius must be non-increasing (the Gonzalez invariant)."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    mind = {
        vid: round(float(np.linalg.norm(v - emb[0])), 6)
        for vid, v in emb.items()
        if vid != 0
    }
    want = []
    for _ in range(8):
        pick = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        best = min(k for k, d in mind.items() if d == pick[1])
        want.append((best, mind[best]))
        sel = emb[best]
        del mind[best]
        for vid in mind:
            mind[vid] = min(
                mind[vid], round(float(np.linalg.norm(emb[vid] - sel)), 6)
            )
    rows = sorted(
        QUERIES["q_sample_kcenter"](spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    got = [(r["vec_id"], r["covering_dist"]) for r in rows]
    assert [g[0] for g in got] == [w[0] for w in want], (got, want)
    for (gv, gd), (wv, wd) in zip(got, want):
        assert abs(gd - wd) <= 2e-6
    dists = [d for _, d in got]
    assert all(dists[i] >= dists[i + 1] - 1e-9 for i in range(len(dists) - 1))


def test_mmr_matches_python_greedy(spark, sf_dir):
    """q_similarity_mmr: the 5-row greedy trajectory must match a
    python MMR recomputation over the same top-20 candidate pool,
    selections must be distinct, and rank 1 must be the pure-cosine
    top hit."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    q = emb[0]

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    simq = {vid: cos(v, q) for vid, v in emb.items() if vid != 0}
    cand = sorted(simq.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    pool = dict(cand)
    sel = [cand[0][0]]
    traj = [(cand[0][0], round(0.7 * cand[0][1], 6))]
    for _ in range(4):
        best = None
        for vid, s in pool.items():
            if vid in sel:
                continue
            mmr = round(0.7 * s - 0.3 * max(cos(emb[vid], emb[x]) for x in sel), 6)
            key = (-mmr, vid)
            if best is None or key < best[0]:
                best = (key, vid, mmr)
        sel.append(best[1])
        traj.append((best[1], best[2]))
    rows = sorted(
        QUERIES["q_similarity_mmr"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert len({r["vec_id"] for r in rows}) == 5
    assert [r["vec_id"] for r in rows] == [v for v, _ in traj]
    for r, (wv, wm) in zip(rows, traj):
        assert abs(r["mmr"] - wm) <= 2e-6, (r, wm)


def test_pq_adc_verified_matches_numpy(spark, sf_dir):
    """q_similarity_pq_adc_verified: codes, ADC distances and the
    exact-top-10 audit must match a numpy PQ recomputation with the
    same staged rounding (subspace d² at 9 dp before argmin)."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    q = emb[0]
    cids = sorted(emb)[:8]

    def d2(a, b):
        return round(float(((a - b) ** 2).sum()), 9)

    lut, codes = {}, {}
    for b in range(4):
        sl = slice(b * 16, b * 16 + 16)
        for cid in cids:
            lut[(b, cid)] = d2(q[sl], emb[cid][sl])
    adc = {}
    for vid, v in emb.items():
        if vid == 0:
            continue
        tot = 0.0
        for b in range(4):
            sl = slice(b * 16, b * 16 + 16)
            code = min((d2(v[sl], emb[c][sl]), c) for c in cids)[1]
            tot += lut[(b, code)]
        adc[vid] = round(float(np.sqrt(round(tot, 9))), 6)
    exact = {
        vid: round(float(np.linalg.norm(v - q)), 6)
        for vid, v in emb.items()
        if vid != 0
    }
    e10 = {v for v, _ in sorted(exact.items(), key=lambda kv: (kv[1], kv[0]))[:10]}
    want = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    rows = QUERIES["q_similarity_pq_adc_verified"](spark, sf_dir).collect()
    assert [(r["vec_id"]) for r in rows] == [v for v, _ in want]
    for r, (wv, wd) in zip(rows, want):
        assert abs(r["adc_dist"] - wd) <= 2e-6
        assert abs(r["exact_dist"] - exact[wv]) <= 2e-6
        assert r["in_exact_top10"] == (wv in e10)
    # PQ must be USEFUL, not vacuous: some emitted row hits the truth.
    assert any(r["in_exact_top10"] for r in rows)


def test_ols2_matches_numpy_lstsq(spark, sf_dir):
    """q_stats_ols2: coefficients and R² must match numpy's exact
    least-squares on the same design matrix (tolerances cover the
    staged cross-engine rounding of the moment sums)."""
    import numpy as np

    rows = (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .collect()
    )
    x1 = np.array([r["l_quantity"] for r in rows])
    x2 = np.array([r["l_discount"] for r in rows])
    y = np.array([r["l_extendedprice"] for r in rows])
    A = np.column_stack([np.ones_like(x1), x1, x2])
    coef, *_ = np.linalg.lstsq(A, y, rcond=None)
    pred = A @ coef
    sst = float(((y - y.mean()) ** 2).sum())
    r2 = 1.0 - float(((y - pred) ** 2).sum()) / sst
    got = QUERIES["q_stats_ols2"](spark, sf_dir).collect()[0]
    assert got["n"] == len(rows)
    assert abs(got["b0"] - coef[0]) <= max(1e-3, abs(coef[0]) * 1e-4)
    assert abs(got["beta1"] - coef[1]) <= max(1e-4, abs(coef[1]) * 1e-4)
    assert abs(got["beta2"] - coef[2]) <= max(1e-3, abs(coef[2]) * 1e-4)
    assert abs(got["r2"] - r2) <= 1e-4
    assert 0 <= got["r2"] <= 1


def test_temperature_apply_counts_match_policy_and_nested(spark, sf_dir):
    """q_sample_temperature_apply: per-language counts must equal
    min(target_n, n_docs) from the policy table, shard ranks must be
    1..count with no gaps, and the selection must be NESTED: the
    prefix property means the rank-k row set is independent of the
    quota (ranks come from the hash order alone)."""
    from collections import Counter

    policy = {
        r["lang"]: r
        for r in QUERIES["q_sample_temperature"](spark, sf_dir).collect()
    }
    rows = QUERIES["q_sample_temperature_apply"](spark, sf_dir).collect()
    got = Counter(r["lang"] for r in rows)
    for lang, p in policy.items():
        assert got[lang] == min(p["target_n"], p["n_docs"]), lang
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["shard_rank"])
    import hashlib

    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # hash-order determinism: rank 1 of each lang is the md5-smallest
    docs = [
        (r["lang"], hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"])
        for r in table(spark, sf_dir, "documents").collect()
    ]
    first = {
        r["lang"]: r["doc_id"] for r in rows if r["shard_rank"] == 1
    }
    for lang in first:
        want = min((h, d) for l, h, d in docs if l == lang)[1]
        assert first[lang] == want, lang


def test_hard_negatives_match_numpy(spark, sf_dir):
    """q_embedding_hard_negatives: positives/negatives and margins
    must match a numpy recomputation over the same query slice."""
    import numpy as np

    rows_e = table(spark, sf_dir, "embeddings").collect()
    emb = {r["vec_id"]: (r["label"], np.array(r["embedding"], dtype=np.float64)) for r in rows_e}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    got = {
        r["vec_id"]: r
        for r in QUERIES["q_embedding_hard_negatives"](spark, sf_dir).collect()
    }
    assert set(got) == {v for v in emb if v < 20}
    for qid in got:
        qlabel, qv = emb[qid]
        pos = max(
            ((cos(v, qv), -vid) for vid, (l, v) in emb.items()
             if l == qlabel and vid != qid),
            default=None,
        )
        neg = max(
            ((cos(v, qv), -vid) for vid, (l, v) in emb.items() if l != qlabel),
            default=None,
        )
        r = got[qid]
        assert r["pos_id"] == -pos[1] and abs(r["pos_sim"] - pos[0]) <= 2e-6
        assert r["neg_id"] == -neg[1] and abs(r["neg_sim"] - neg[0]) <= 2e-6
        assert r["margin_ok"] == (r["pos_sim"] > r["neg_sim"])


def test_referential_integrity_clean_fixture_and_detects_orphans(spark, sf_dir):
    """q_quality_referential_integrity: the shipped fixture must be
    FK-clean (5 relations, 0 orphans), and the audit must actually
    FIRE on a corrupted copy — an injected orphan order flips the
    orders->customer row."""
    import os
    import tempfile

    rows = QUERIES["q_quality_referential_integrity"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["fk_ok"] and r["n_orphans"] == 0 for r in rows)
    from i3cols_spark.sources.tables import TABLES

    d = tempfile.mkdtemp(prefix="fkaudit")
    orders = table(spark, sf_dir, "orders")
    bad = orders.limit(1).withColumn("o_custkey", F.lit(-999_999))
    orders.unionByName(bad).write.mode("overwrite").parquet(
        f"{d}/orders.parquet"
    )
    for t in TABLES:
        if t != "orders" and not os.path.exists(f"{d}/{t}.parquet"):
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    rows2 = {
        r["relation"]: r
        for r in QUERIES["q_quality_referential_integrity"](spark, d).collect()
    }
    assert rows2["orders->customer"]["n_orphans"] == 1
    assert not rows2["orders->customer"]["fk_ok"]
    assert rows2["customer->nation"]["fk_ok"]


def test_fk_audit_does_not_inflate_children_on_duplicate_parent_key(spark):
    """The FK audit's left join must not multiply child rows when the
    parent key repeats: n_child counts each child row once."""
    from i3cols_spark.operators.quality import fk_audit

    child = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k long")
    parent = spark.createDataFrame([(1,), (1,), (2,), (2,)], "pk long")
    r = fk_audit(child, "k", parent, "pk", "c->p").collect()[0]
    assert (r["n_child"], r["n_orphans"], r["fk_ok"]) == (4, 1, False)


def test_embedding_audit_matches_numpy(spark, sf_dir):
    """q_quality_embedding_audit: per-label norm stats must match a
    numpy recomputation, and the structural counts must be zero on
    the clean fixture."""
    import numpy as np

    by_label = {}
    for r in table(spark, sf_dir, "embeddings").collect():
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64)
        )
    rows = QUERIES["q_quality_embedding_audit"](spark, sf_dir).collect()
    assert [r["label"] for r in rows] == sorted(by_label)
    for r in rows:
        vs = by_label[r["label"]]
        norms = [float(np.sqrt((v * v).sum())) for v in vs]
        assert r["n_vecs"] == len(vs)
        assert r["n_wrong_dim"] == 0 and r["n_nonfinite"] == 0
        assert abs(r["min_norm"] - min(norms)) <= 2e-6
        assert abs(r["max_norm"] - max(norms)) <= 2e-6
        assert abs(r["mean_norm"] - sum(norms) / len(norms)) <= 2e-6


def test_degree_powerlaw_matches_python(spark, sf_dir):
    """q_graph_degree_powerlaw: histogram and slope must match a
    python recomputation over the same bipartite degree multiset."""
    import math
    from collections import Counter

    o = {r["o_orderkey"]: r["o_custkey"] for r in table(spark, sf_dir, "orders").collect()}
    pairs = {
        (o[r["l_orderkey"]], r["l_suppkey"] + (1 << 40))
        for r in table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect()
        if r["l_orderkey"] in o
    }
    deg = Counter()
    for c, s in pairs:
        deg[c] += 1
        deg[s] += 1
    hist = Counter(deg.values())
    rows = sorted(
        QUERIES["q_graph_degree_powerlaw"](spark, sf_dir).collect(),
        key=lambda r: r["degree"],
    )
    assert {(r["degree"], r["n_nodes"]) for r in rows} == set(hist.items())
    lx = [math.log(d) for d in hist]
    ly = [math.log(n) for n in hist.values()]
    n = len(lx)
    mlx, mly = sum(lx) / n, sum(ly) / n
    slope = (sum(a * b for a, b in zip(lx, ly)) / n - mlx * mly) / (
        sum(a * a for a in lx) / n - mlx * mlx
    )
    assert abs(rows[0]["powerlaw_slope"] - slope) <= 1e-4


def test_event_attribution_matches_python(spark, sf_dir):
    """q_event_attribution: every purchase row must match a python
    replay of the per-user event stream (strictly-before semantics,
    (ts, event_id) order), and unattributed purchases keep NULLs."""
    ev = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["event_type"])
            for r in table(spark, sf_dir, "events").collect()
        ),
        key=lambda x: (x[0], x[1], x[2]),
    )
    want = {}
    state = {}
    for u, ts, eid, et in ev:
        st = state.setdefault(u, {"n": 0, "first": None, "last": None})
        if et == "purchase":
            # engines truncate each timestamp to whole seconds BEFORE
            # subtracting (unix_timestamp / date_diff('second'));
            # subtract-then-truncate differs on sub-second tails.
            import calendar

            def _floor_epoch(t):
                return calendar.timegm(t.timetuple())

            want[eid] = (
                st["n"],
                st["first"],
                st["last"],
                (_floor_epoch(ts) - _floor_epoch(st["last"]))
                if st["last"]
                else None,
            )
        if et == "click":
            st["n"] += 1
            st["first"] = st["first"] or ts
            st["last"] = ts
    rows = QUERIES["q_event_attribution"](spark, sf_dir).collect()
    assert {r["purchase_id"] for r in rows} == set(want)
    for r in rows:
        n, first, last, secs = want[r["purchase_id"]]
        assert r["n_prior_clicks"] == n
        assert r["first_click_ts"] == first
        assert r["last_click_ts"] == last
        assert r["secs_since_last_click"] == secs


def test_log_histogram_matches_python(spark, sf_dir):
    """q_agg_log_histogram: buckets, counts and bounds must match a
    python bit_length recomputation, buckets must tile the value
    range, and fractions must sum to 1."""
    vals = [
        r["o_totalprice"]
        for r in table(spark, sf_dir, "orders").collect()
        if r["o_totalprice"] >= 1
    ]
    from collections import Counter

    want = Counter(int(v).bit_length() - 1 for v in vals)
    rows = sorted(
        QUERIES["q_agg_log_histogram"](spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert {(r["bucket"], r["n_rows"]) for r in rows} == set(want.items())
    for r in rows:
        assert r["lo"] == 2.0 ** r["bucket"] and r["hi"] == 2.0 ** (r["bucket"] + 1)
        assert r["lo"] <= r["min_val"] <= r["max_val"] < r["hi"]
    assert abs(sum(r["frac"] for r in rows) - 1.0) <= 1e-4


def test_roc_pr_matches_python(spark, sf_dir):
    """q_ml_eval_roc_pr: cumulative confusion counts, curve metrics
    and the trapezoid AUC must match a pure-python recomputation
    (including the tie-aware midrank identity for AUC)."""
    li = [
        (int(r["l_quantity"]), 1 if r["l_returnflag"] == "R" else 0)
        for r in table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_returnflag")
        .collect()
    ]
    pp = sum(p for _, p in li)
    nn = len(li) - pp
    by_s: dict = {}
    for s, p in li:
        ps, qs = by_s.get(s, (0, 0))
        by_s[s] = (ps + p, qs + (1 - p))
    rows = sorted(
        QUERIES["q_ml_eval_roc_pr"](spark, sf_dir).collect(),
        key=lambda r: -r["threshold"],
    )
    assert len(rows) == len(by_s)
    tp = fp = 0
    numer = 0
    for r, s in zip(rows, sorted(by_s, reverse=True)):
        ptp, pfp = tp, fp
        tp += by_s[s][0]
        fp += by_s[s][1]
        numer += (fp - pfp) * (tp + ptp)
        assert r["threshold"] == s
        assert (r["tp"], r["fp"]) == (tp, fp)
        assert (r["fn"], r["tn"]) == (pp - tp, nn - fp)
        assert abs(r["tpr"] - tp / pp) <= 1e-6
        assert abs(r["fpr"] - fp / nn) <= 1e-6
        assert abs(r["precision_"] - tp / (tp + fp)) <= 1e-6
        assert abs(r["f1"] - 2 * tp / (2 * tp + fp + pp - tp)) <= 1e-6
    # trapezoid == tie-aware midrank AUC
    auc = numer / (2.0 * pp * nn)
    ranked = sorted(li)
    i, rank_sum = 0, 0.0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][0] == ranked[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        rank_sum += mid * sum(p for _, p in ranked[i:j])
        i = j
    auc_rank = (rank_sum - pp * (pp + 1) / 2.0) / (pp * nn)
    assert abs(auc - auc_rank) <= 1e-9
    assert all(abs(r["auc"] - auc) <= 1e-6 for r in rows)
    # curve sanity: ends at (1,1), monotone in both axes
    assert rows[-1]["tp"] == pp and rows[-1]["fp"] == nn


def test_ndcg_matches_python(spark, sf_dir):
    """q_ml_eval_ndcg: per-order DCG/IDCG under the shared integer
    discount table, micro-int quantization and corpus means must match
    a pure-python recomputation."""
    from i3cols_spark.operators.stats import _NDCG_K, _NDCG_W

    import math

    per: dict = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .collect()
    ):
        per.setdefault(r["l_orderkey"], []).append(
            (int(r["l_quantity"]), r["l_extendedprice"])
        )
    n = len(per)
    s_ndcg = s_rr = s_hit = 0
    for items in per.values():
        ranker = sorted(items, key=lambda t: -t[1])
        ideal = sorted(items, key=lambda t: (-t[0], -t[1]))
        dcg = sum(
            rel * _NDCG_W[i] for i, (rel, _) in enumerate(ranker[:_NDCG_K])
        )
        idcg = sum(
            rel * _NDCG_W[i] for i, (rel, _) in enumerate(ideal[:_NDCG_K])
        )
        s_ndcg += int(math.floor(dcg * 1_000_000.0 / idcg + 0.5))
        first = next(
            (
                i + 1
                for i, (rel, _) in enumerate(ranker[:_NDCG_K])
                if rel >= 40
            ),
            None,
        )
        if first is not None:
            s_rr += int(math.floor(1_000_000.0 / first + 0.5))
            s_hit += 1
    row = QUERIES["q_ml_eval_ndcg"](spark, sf_dir).collect()[0]
    assert row["n_queries"] == n
    assert abs(row["avg_ndcg10"] - s_ndcg / (n * 1e6)) <= 1e-6
    assert abs(row["avg_mrr10"] - s_rr / (n * 1e6)) <= 1e-6
    assert abs(row["hit_rate10"] - s_hit / n) <= 1e-6
    # NDCG of a perfect ranker is 1 by construction; ours must be <= 1
    assert 0.0 < row["avg_ndcg10"] <= 1.0


def test_simhash_verified_matches_python_bruteforce(spark, sf_dir):
    """q_dedup_simhash_verified: a pure-python recomputation of the
    md5-family SimHash (collapse -> token votes -> 64-bit signature)
    followed by BRUTE-FORCE all-pairs hamming must equal the query's
    banded output exactly — proving both the signature math and the
    pigeonhole recall claim (4 bands of 16 bits find EVERY pair at
    hamming <= 3, not a sample)."""
    import hashlib
    import re
    from itertools import combinations

    groups: dict = {}
    for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        norm = r["text"].strip().lower()
        key = hashlib.md5(norm.encode()).hexdigest()
        rep, _ = groups.get(key, (None, None))
        if rep is None or r["doc_id"] < rep:
            groups[key] = (r["doc_id"], norm)
        # min(norm) == norm for every member (identical normalized text)
    sigs = {}
    for rep, norm in groups.values():
        votes = [0] * 64
        for tok in re.split(r"\s+", norm):
            h = hashlib.md5(tok.encode()).hexdigest()[:16]
            for b in range(64):
                nib = int(h[b // 4], 16)
                votes[b] += 1 if (nib >> (b % 4)) & 1 else -1
        sigs[rep] = sum(
            (1 if votes[b] >= 0 else 0) << b for b in range(64)
        )
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in QUERIES["q_dedup_simhash_verified"](spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture must make the check non-vacuous"


def test_rolling_median_matches_python(spark, sf_dir):
    """q_ts_rolling_median: the trailing 10-row frame median must
    match python statistics.median (the independent third
    implementation of the (x+y)/2 even-count convention)."""
    import statistics
    from collections import defaultdict

    evs = defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    ):
        evs[r["user_id"]].append((r["ts"], r["event_id"], r["value"]))
    want = {}
    for uid, rows in evs.items():
        rows.sort()
        for i, (_, eid, _v) in enumerate(rows):
            frame = [v for _, _, v in rows[max(0, i - 9) : i + 1]]
            want[eid] = (len(frame), statistics.median(frame))
    out = QUERIES["q_ts_rolling_median"](spark, sf_dir).collect()
    assert len(out) == len(want)
    for r in out:
        n, med = want[r["event_id"]]
        assert r["n_window"] == n
        assert r["roll_median"] == med  # bit-exact: selection, not reduction


def test_label_propagation_matches_python(spark, sf_dir):
    """q_graph_label_propagation: 4 sync rounds of most-frequent-
    neighbor-label (ties to smallest) recomputed in pure python over
    the same trading graph must match exactly, and communities must
    be non-trivial (fewer communities than nodes)."""
    from collections import Counter, defaultdict

    OFF = 1099511627776
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table(spark, sf_dir, "orders").collect()
    }
    pairs = {
        (orders[r["l_orderkey"]], r["l_suppkey"] + OFF)
        for r in table(spark, sf_dir, "lineitem").collect()
        if r["l_orderkey"] in orders
    }
    adj = defaultdict(list)
    for c, s in pairs:
        adj[c].append(s)
        adj[s].append(c)
    label = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n in adj:
            cnt = Counter(label[m] for m in adj[n])
            best = min(((-c, lb) for lb, c in cnt.items()))[1]
            nxt[n] = best
        label = nxt
    rows = QUERIES["q_graph_label_propagation"](spark, sf_dir).collect()
    got = {r["node"]: r["community"] for r in rows}
    assert got == label
    assert len(set(label.values())) < len(label)


def test_rake_keywords_matches_python(spark, sf_dir):
    """q_text_rake_keywords: full python RAKE recomputation — runs,
    cap, deg/freq micro-quantization, phrase scores, top-k order —
    must match exactly."""
    import math
    import re
    from collections import Counter, defaultdict

    from i3cols_spark.operators.textops import (
        _RAKE_MAX_LEN,
        _RAKE_STOPWORDS,
        _RAKE_TOPK,
    )

    phrases_all = []
    for r in table(spark, sf_dir, "documents").select("text").collect():
        toks = re.split(r"\s+", r["text"].strip().lower())
        run: list = []
        for t in toks + [None]:
            if t is None or t in _RAKE_STOPWORDS:
                if run and len(run) <= _RAKE_MAX_LEN:
                    phrases_all.append(tuple(run))
                run = []
            else:
                run.append(t)
    freq: Counter = Counter()
    deg: Counter = Counter()
    for ph in phrases_all:
        for w in ph:
            freq[w] += 1
            deg[w] += len(ph)
    ws_u = {
        w: int(math.floor(deg[w] * 1_000_000.0 / freq[w] + 0.5)) for w in freq
    }
    by_phrase: dict = defaultdict(int)
    meta: dict = {}
    for ph in phrases_all:
        by_phrase[ph] += 1
        meta[ph] = (len(ph), sum(ws_u[w] for w in ph))
    ranked = sorted(
        by_phrase,
        key=lambda p: (-meta[p][1], " ".join(p)),
    )[:_RAKE_TOPK]
    want = [
        (" ".join(p), meta[p][0], by_phrase[p], meta[p][1] / 1e6)
        for p in ranked
    ]
    got = [
        (r["phrase"], r["n_words"], r["n_occurrences"], r["score"])
        for r in QUERIES["q_text_rake_keywords"](spark, sf_dir).collect()
    ]
    assert got == want
    assert want, "fixture must produce candidate phrases"


def test_burstiness_matches_python(spark, sf_dir):
    """q_text_burstiness: VMR closed form over all-docs counts
    (zeros included) must match a direct python variance/mean, and
    stopword-like glue must scatter less than content words clump."""
    import re
    from collections import Counter, defaultdict

    per_doc: dict = defaultdict(Counter)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    d = len(docs)
    for r in docs:
        for t in re.split(r"\s+", r["text"].strip().lower()):
            per_doc[t][r["doc_id"]] += 1
    rows = QUERIES["q_text_burstiness"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        counts = per_doc[r["word"]]
        total = sum(counts.values())
        assert r["total_count"] == total
        assert r["n_docs"] == len(counts)
        mean = total / d
        var = (sum(c * c for c in counts.values()) - total * total / d) / d
        assert abs(r["vmr"] - var / mean) <= 1e-6
        assert abs(r["doc_freq"] - len(counts) / d) <= 1e-6


def test_interval_merge_matches_python(spark, sf_dir):
    """q_ts_interval_merge: coalesced episodes must match a direct
    python sweep (sort by start, merge when start <= running max
    end), cover every order exactly once, and never overlap."""
    import calendar
    from collections import defaultdict

    W30 = 2_592_000_000_000
    per: dict = defaultdict(list)
    for r in table(spark, sf_dir, "orders").collect():
        t = r["o_orderdate"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        per[r["o_custkey"]].append((us, r["o_orderkey"]))
    want = {}
    for cust, ivs in per.items():
        ivs.sort()
        episodes = []
        for s, _ok in ivs:
            e = s + W30
            if episodes and s <= episodes[-1][1]:
                episodes[-1][1] = max(episodes[-1][1], e)
                episodes[-1][2] += 1
            else:
                episodes.append([s, e, 1])
        for i, (s, e, n) in enumerate(episodes, 1):
            want[(cust, i)] = (s, e, n)
    rows = QUERIES["q_ts_interval_merge"](spark, sf_dir).collect()
    assert len(rows) == len(want)
    prev_end: dict = {}
    for r in rows:
        s, e, n = want[(r["o_custkey"], r["episode"])]
        assert (r["episode_start_us"], r["episode_end_us"], r["n_orders"]) == (
            s,
            e,
            n,
        )
        assert abs(r["span_days"] - (e - s) / 86_400_000_000) <= 1e-9
        if r["o_custkey"] in prev_end:
            assert r["episode_start_us"] > prev_end[r["o_custkey"]]
        prev_end[r["o_custkey"]] = r["episode_end_us"]
    assert sum(r["n_orders"] for r in rows) == sum(len(v) for v in per.values())


def test_conductance_matches_python(spark, sf_dir):
    """q_graph_conductance: phi recomputed in python from the LPA
    labels (which test_label_propagation_matches_python already pins)
    and the raw edge set must match; volumes must sum to 2m and cuts
    must be symmetric in total."""
    from collections import Counter, defaultdict

    OFF = 1099511627776
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table(spark, sf_dir, "orders").collect()
    }
    pairs = {
        (orders[r["l_orderkey"]], r["l_suppkey"] + OFF)
        for r in table(spark, sf_dir, "lineitem").collect()
        if r["l_orderkey"] in orders
    }
    label = {
        r["node"]: r["community"]
        for r in QUERIES["q_graph_label_propagation"](spark, sf_dir).collect()
    }
    vol: Counter = Counter()
    cut: Counter = Counter()
    dm = 0
    for c, s in pairs:
        for a, b in ((c, s), (s, c)):
            dm += 1
            vol[label[a]] += 1
            if label[a] != label[b]:
                cut[label[a]] += 1
    sizes = Counter(label.values())
    rows = QUERIES["q_graph_conductance"](spark, sf_dir).collect()
    assert {r["community"] for r in rows} == set(sizes)
    for r in rows:
        com = r["community"]
        assert r["n_nodes"] == sizes[com]
        assert r["vol"] == vol[com]
        assert r["cut"] == cut[com]
        denom = min(vol[com], dm - vol[com])
        want = cut[com] / denom if denom > 0 else 0.0
        assert abs(r["conductance"] - want) <= 1e-6
    assert sum(vol.values()) == dm


def test_mann_kendall_matches_python(spark, sf_dir):
    """q_ts_mann_kendall: S, tie-corrected variance and z recomputed
    in pure python over the rounded monthly series must match."""
    import math
    from collections import Counter, defaultdict

    series: dict = defaultdict(dict)
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_shipdate", "l_extendedprice")
        .collect()
    ):
        key = (r["l_shipdate"].year, r["l_shipdate"].month)
        series[r["l_returnflag"]][key] = (
            series[r["l_returnflag"]].get(key, 0.0) + r["l_extendedprice"]
        )
    rows = {
        r["l_returnflag"]: r
        for r in QUERIES["q_ts_mann_kendall"](spark, sf_dir).collect()
    }
    assert set(rows) == set(series)
    for rf, months in series.items():
        vals = [round(v, 2) for _, v in sorted(months.items())]
        n = len(vals)
        s = sum(
            (vals[j] > vals[i]) - (vals[j] < vals[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie_term = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(vals).values()
            if t > 1
        )
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        z = (s - (1 if s > 0 else -1 if s < 0 else s)) / math.sqrt(var_s)
        r = rows[rf]
        assert r["n_periods"] == n
        assert r["s_stat"] == s
        assert abs(r["var_s"] - var_s) <= 1e-5
        assert abs(r["z_stat"] - z) <= 1e-6


def test_runs_test_matches_python(spark, sf_dir):
    """q_stats_runs_test: runs count against the median-binarized
    daily series and the exact null moments must match python."""
    import math
    import statistics
    from collections import defaultdict

    day_sum: dict = defaultdict(float)
    for r in table(spark, sf_dir, "events").select("ts", "value").collect():
        day_sum[r["ts"].date()] += r["value"]
    vals = [(d, round(v, 2)) for d, v in sorted(day_sum.items())]
    med = statistics.median([v for _, v in vals])
    seq = [v > med for _, v in vals if v != med]
    n1 = sum(seq)
    n2 = len(seq) - n1
    runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
    n = n1 + n2
    e = 1 + 2 * n1 * n2 / n
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    row = QUERIES["q_stats_runs_test"](spark, sf_dir).collect()[0]
    assert (row["n1"], row["n2"], row["runs"]) == (n1, n2, runs)
    assert abs(row["e_runs"] - e) <= 1e-6
    assert abs(row["z_stat"] - (runs - e) / math.sqrt(var)) <= 1e-6


def test_active_days_matches_python(spark, sf_dir):
    """q_ts_active_days: month-clamped allocation of merged episodes
    recomputed in python must match, and per-month active_us must
    never exceed n_customers * month-length."""
    import calendar
    from collections import defaultdict
    from datetime import datetime

    W30 = 2_592_000_000_000
    per: dict = defaultdict(list)
    for r in table(spark, sf_dir, "orders").collect():
        t = r["o_orderdate"]
        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        per[r["o_custkey"]].append(us)
    month_us: dict = defaultdict(lambda: [set(), 0])

    def mon_floor(us):
        d = datetime.utcfromtimestamp(us / 1_000_000)
        return calendar.timegm(
            d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
            .timetuple()
        ) * 1_000_000

    def mon_next(mus):
        d = datetime.utcfromtimestamp(mus / 1_000_000)
        y, m = (d.year + 1, 1) if d.month == 12 else (d.year, d.month + 1)
        return calendar.timegm(d.replace(year=y, month=m).timetuple()) * 1_000_000

    for cust, starts in per.items():
        starts.sort()
        episodes = []
        for s in starts:
            e = s + W30
            if episodes and s <= episodes[-1][1]:
                episodes[-1][1] = max(episodes[-1][1], e)
            else:
                episodes.append([s, e])
        for s, e in episodes:
            m = mon_floor(s)
            while m < e:
                nm = mon_next(m)
                ov = min(e, nm) - max(s, m)
                if ov > 0:
                    month_us[m][0].add(cust)
                    month_us[m][1] += ov
                m = nm
    rows = QUERIES["q_ts_active_days"](spark, sf_dir).collect()
    assert len(rows) == len(month_us)
    for r in rows:
        custs, us = month_us[r["month_us"]]
        assert r["n_customers"] == len(custs)
        assert r["active_us"] == us
        assert abs(r["active_days"] - us / 86_400_000_000) <= 1e-9
        month_len = mon_next(r["month_us"]) - r["month_us"]
        assert us <= len(custs) * month_len


def test_path_summary_matches_python(spark, sf_dir):
    """q_event_path_summary: sessionization, path strings, top-20
    rank and shares recomputed in python must match."""
    import calendar
    from collections import Counter, defaultdict

    evs: dict = defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .collect()
    ):
        us = (
            calendar.timegm(r["ts"].timetuple()) * 1_000_000
            + r["ts"].microsecond
        )
        evs[r["user_id"]].append((us, r["event_id"], r["event_type"]))
    paths: Counter = Counter()
    lens: dict = {}
    n_sessions = 0
    for rows_ in evs.values():
        rows_.sort()
        cur: list = []
        prev = None
        for us, _eid, et in rows_:
            if prev is not None and us - prev > 1_800_000_000:
                p = ">".join(cur)
                paths[p] += 1
                lens[p] = min(lens.get(p, len(cur)), len(cur))
                n_sessions += 1
                cur = []
            cur.append(et)
            prev = us
        p = ">".join(cur)
        paths[p] += 1
        lens[p] = min(lens.get(p, len(cur)), len(cur))
        n_sessions += 1
    top = sorted(paths, key=lambda p: (-paths[p], p))[:20]
    got = QUERIES["q_event_path_summary"](spark, sf_dir).collect()
    assert [r["path"] for r in got] == top
    for r in got:
        assert r["n_sessions"] == paths[r["path"]]
        assert r["path_len"] == lens[r["path"]]
        assert abs(r["share"] - paths[r["path"]] / n_sessions) <= 1e-6


def test_lsh_eval_matches_python(spark, sf_dir):
    """q_dedup_lsh_eval: ground truth (exact shingle-set Jaccard >=
    0.5 over all pairs, brute force), LSH candidates and the
    precision/recall arithmetic recomputed in pure python must
    match."""
    import hashlib
    import re
    from itertools import combinations

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    reps: dict = {}
    for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        norm = r["text"].strip().lower()
        key = md5(norm)
        if key not in reps or r["doc_id"] < reps[key][0]:
            reps[key] = (r["doc_id"], norm)
    docs = {}
    for doc_id, norm in reps.values():
        toks = re.split(r"\s+", norm)
        n = max(len(toks) - 3, 0) + 1
        docs[doc_id] = [" ".join(toks[i : i + 3]) for i in range(n)]
    hsh = {d: set(md5(x) for x in sh) for d, sh in docs.items()}
    truth = {
        (a, b)
        for a, b in combinations(sorted(docs), 2)
        if len(hsh[a] & hsh[b]) / len(hsh[a] | hsh[b]) >= 0.5
    }
    sigs = {
        d: [min(md5(f"{j}:{x}") for x in sh) for j in range(8)]
        for d, sh in docs.items()
    }
    buckets: dict = {}
    for d, sg in sigs.items():
        for b in range(4):
            key = (b, md5(f"{b}|{sg[2 * b]}|{sg[2 * b + 1]}"))
            buckets.setdefault(key, []).append(d)
    cand = set()
    for ids in buckets.values():
        for a, b in combinations(sorted(ids), 2):
            cand.add((a, b))
    hits = truth & cand
    row = QUERIES["q_dedup_lsh_eval"](spark, sf_dir).collect()[0]
    assert row["n_truth"] == len(truth)
    assert row["n_candidates"] == len(cand)
    assert row["n_hits"] == len(hits)
    assert abs(row["precision_"] - len(hits) / len(cand)) <= 1e-6
    assert abs(row["recall"] - len(hits) / len(truth)) <= 1e-6
    assert truth, "fixture must contain true near-dup pairs"


def test_feature_mi_matches_python(spark, sf_dir):
    """q_ml_feature_mi: MI, margin entropies and NMI recomputed in
    python over the (bucket, flag) contingency table must match; MI
    must be non-negative and bounded by min(H_x, H_y)."""
    import math
    from collections import Counter

    cells: Counter = Counter()
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_returnflag")
        .collect()
    ):
        x = min(9, int((r["l_quantity"] - 1) // 5))
        cells[(x, r["l_returnflag"])] += 1
    n = sum(cells.values())
    cx: Counter = Counter()
    cy: Counter = Counter()
    for (x, y), c in cells.items():
        cx[x] += c
        cy[y] += c
    mi = sum(
        c / n * math.log(c * n / (cx[x] * cy[y]))
        for (x, y), c in cells.items()
    )
    hx = -sum(c / n * math.log(c / n) for c in cx.values())
    hy = -sum(c / n * math.log(c / n) for c in cy.values())
    row = QUERIES["q_ml_feature_mi"](spark, sf_dir).collect()[0]
    assert row["n_cells"] == len(cells)
    assert abs(row["mi_nats"] - mi) <= 1e-5
    assert abs(row["h_feature"] - hx) <= 1e-5
    assert abs(row["h_label"] - hy) <= 1e-5
    assert abs(row["nmi"] - mi / math.sqrt(hx * hy)) <= 1e-5
    assert -1e-9 <= row["mi_nats"] <= min(hx, hy) + 1e-9


def test_backtest_naive_matches_python(spark, sf_dir):
    """q_ts_backtest_naive: cents canonicalization, the three
    reference forecasts, and MAE/MAPE micro-quantization recomputed
    in python must match."""
    import math
    from collections import defaultdict

    monthly: dict = defaultdict(float)
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_shipdate", "l_extendedprice")
        .collect()
    ):
        monthly[(r["l_shipdate"].year, r["l_shipdate"].month)] += r[
            "l_extendedprice"
        ]
    vals = [
        int(math.floor(round(v, 2) * 100 + 0.5))
        for _, v in sorted(monthly.items())
    ]
    rowsd = {}
    for method in ("naive", "seasonal_naive", "moving_avg_3"):
        evals = []
        for i in range(len(vals)):
            if i < 12:
                continue
            if method == "naive":
                fc = vals[i - 1]
            elif method == "seasonal_naive":
                fc = vals[i - 12]
            else:
                fc = int(
                    math.floor((vals[i - 1] + vals[i - 2] + vals[i - 3]) / 3.0 + 0.5)
                )
            evals.append((vals[i], fc))
        evals = evals[-12:]
        mae = sum(abs(v - f) for v, f in evals) / len(evals) / 100.0
        mape = sum(
            int(math.floor(abs(v - f) * 1_000_000.0 / v + 0.5))
            for v, f in evals
        ) / (len(evals) * 10_000.0)
        rowsd[method] = (len(evals), mae, mape)
    got = QUERIES["q_ts_backtest_naive"](spark, sf_dir).collect()
    assert len(got) == 3
    for r in got:
        n, mae, mape = rowsd[r["method"]]
        assert r["n_evals"] == n
        assert abs(r["mae"] - mae) <= 1e-4
        assert abs(r["mape_pct"] - mape) <= 1e-4


def test_rfm_matches_python(spark, sf_dir):
    """q_event_rfm: user metrics, deterministic rank-quintile scores
    and segment rollups recomputed in python must match; every score
    must be 1..5 and user counts must sum to the purchaser count."""
    import calendar
    import math
    from collections import defaultdict

    evs = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    ).collect()

    def us(t):
        return calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond

    anchor = max(us(r["ts"]) for r in evs)
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for r in evs:
        if r["event_type"] != "purchase":
            continue
        a = agg[r["user_id"]]
        a[0] = max(a[0], us(r["ts"]))
        a[1] += 1
        a[2] += int(math.floor(r["value"] * 100 + 0.5))
    users = {
        uid: (
            int(math.floor((anchor - last) / 86_400_000_000.0)),
            freq,
            cents,
        )
        for uid, (last, freq, cents) in agg.items()
    }
    n = len(users)

    def scores(key, reverse):
        order = sorted(
            users,
            key=lambda u: (
                (-users[u][key] if reverse else users[u][key]),
                u,
            ),
        )
        return {
            u: 1 + int(math.floor(i * 5.0 / n)) for i, u in enumerate(order)
        }

    rs, fs, ms = scores(0, True), scores(1, False), scores(2, False)
    seg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for u, (rec, fr, mo) in users.items():
        s = seg[f"{rs[u]}-{fs[u]}-{ms[u]}"]
        s[0] += 1
        s[1] += rec
        s[2] += fr
        s[3] += mo
    rows = QUERIES["q_event_rfm"](spark, sf_dir).collect()
    assert {r["segment"] for r in rows} == set(seg)
    total = 0
    for r in rows:
        c, rec, fr, mo = seg[r["segment"]]
        total += c
        assert r["n_users"] == c
        assert abs(r["avg_recency_days"] - rec / c) <= 1e-6
        assert abs(r["avg_frequency"] - fr / c) <= 1e-6
        assert abs(r["avg_monetary"] - mo / (c * 100.0)) <= 1e-6
        rp, fp, mp = r["segment"].split("-")
        assert all(1 <= int(x) <= 5 for x in (rp, fp, mp))
    assert total == n


def test_cuped_matches_python(spark, sf_dir):
    """q_ml_ab_cuped: per-user cents, md5 split, theta and the
    adjusted difference recomputed in python must match; CUPED must
    never increase variance (0 <= var_reduction_pct <= 100)."""
    import calendar
    import hashlib
    import math
    from collections import defaultdict

    evs = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    ).collect()

    def us(t):
        return calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond

    anchor = max(us(r["ts"]) for r in evs)
    cutoff = anchor - 1_296_000_000_000
    xy: dict = defaultdict(lambda: [0, 0])
    for r in evs:
        if r["event_type"] != "purchase":
            continue
        cents = int(math.floor(r["value"] * 100 + 0.5))
        xy[r["user_id"]][0 if us(r["ts"]) < cutoff else 1] += cents
    n = len(xy)
    sx = sum(v[0] for v in xy.values())
    sy = sum(v[1] for v in xy.values())
    sxx = sum(v[0] * v[0] for v in xy.values())
    sxy = sum(v[0] * v[1] for v in xy.values())
    syy = sum(v[1] * v[1] for v in xy.values())
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    var_x = (n * sxx - sx * sx) / (n * n)
    var_y = (n * syy - sy * sy) / (n * n)
    cov = (n * sxy - sx * sy) / (n * n)
    groups: dict = defaultdict(lambda: [0, 0, 0])
    for uid, (x, y) in xy.items():
        g = "A" if hashlib.md5(f"{uid}|ab".encode()).hexdigest()[0] < "8" else "B"
        groups[g][0] += 1
        groups[g][1] += x
        groups[g][2] += y
    (na, sxa, sya), (nb, sxb, syb) = groups["A"], groups["B"]
    raw = (sya / na - syb / nb) / 100
    adj = ((sya / na - theta * sxa / na) - (syb / nb - theta * sxb / nb)) / 100
    row = QUERIES["q_ml_ab_cuped"](spark, sf_dir).collect()[0]
    assert (row["n_users"], row["n_a"], row["n_b"]) == (n, na, nb)
    assert abs(row["theta"] - theta) <= 1e-5
    assert abs(row["var_reduction_pct"] - cov * cov / (var_x * var_y) * 100) <= 1e-4
    assert abs(row["raw_diff"] - raw) <= 1e-5
    assert abs(row["adj_diff"] - adj) <= 1e-5
    assert 0 <= row["var_reduction_pct"] <= 100


def test_freshness_matches_python(spark, sf_dir):
    """q_quality_freshness: staleness, window counts and WoW ratio
    recomputed in python must match; window counts must partition
    consistently."""
    import calendar
    from collections import defaultdict

    evs = table(spark, sf_dir, "events").select("event_type", "ts").collect()

    def us(t):
        return calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond

    anchor = max(us(r["ts"]) for r in evs)
    per: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in evs:
        t = us(r["ts"])
        p = per[r["event_type"]]
        p[0] += 1
        p[1] = max(p[1], t)
        if t >= anchor - 604_800_000_000:
            p[2] += 1
        elif t >= anchor - 1_209_600_000_000:
            p[3] += 1
    rows = QUERIES["q_quality_freshness"](spark, sf_dir).collect()
    assert {r["event_type"] for r in rows} == set(per)
    for r in rows:
        n, last, w7, wp7 = per[r["event_type"]]
        assert r["n_rows"] == n
        assert r["last_us"] == last
        assert (r["rows_7d"], r["rows_prior_7d"]) == (w7, wp7)
        assert abs(r["staleness_hours"] - (anchor - last) / 3_600_000_000) <= 1e-6
        if wp7 > 0:
            assert abs(r["wow_ratio"] - w7 / wp7) <= 1e-6
        else:
            assert r["wow_ratio"] is None
        assert r["stale_24h"] == ((anchor - last) > 86_400_000_000)


def test_recursive_cte_matches_window_spelling(spark, sf_dir):
    """q_sql_recursive_cte: the recursive walk must equal the
    running-sum window rewrite (the documented production spelling) —
    position by row_number, cumulative cents by an unbounded-
    preceding sum."""
    from pyspark.sql import functions as SF
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = SF.floor(SF.col("o_totalprice") * 100 + SF.lit(0.5)).cast("long")
    want = {
        (r["o_custkey"], r["o_orderkey"]): (r["pos"], r["cum"])
        for r in table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            SF.row_number().over(w).cast("long").alias("pos"),
            (SF.sum(cents).over(wr) / SF.lit(100.0)).alias("cum"),
        )
        .collect()
    }
    got = QUERIES["q_sql_recursive_cte"](spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        pos, cum = want[(r["o_custkey"], r["o_orderkey"])]
        assert r["pos"] == pos
        assert abs(r["cum_spend"] - cum) <= 1e-9


def test_lateral_topk_matches_window_spelling(spark, sf_dir):
    """q_sql_lateral_topk: the decorrelated lateral must equal the
    rank-window top-2 rewrite exactly."""
    from pyspark.sql import functions as SF
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        SF.col("o_orderpriority") == "1-URGENT"
    )
    # (l_orderkey, l_linenumber) is NOT unique in the fixture; the
    # (l_orderkey, l_extendedprice) pair is — compare as multisets of
    # full triples.
    w = Window.partitionBy("l_orderkey").orderBy(SF.desc("l_extendedprice"))
    want = sorted(
        (r["l_orderkey"], r["l_linenumber"], r["l_extendedprice"])
        for r in li.withColumn("rk", SF.row_number().over(w))
        .filter(SF.col("rk") <= 2)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .collect()
    )
    got = sorted(
        (r["o_orderkey"], r["l_linenumber"], r["l_extendedprice"])
        for r in QUERIES["q_sql_lateral_topk"](spark, sf_dir).collect()
    )
    assert got == want


def test_split_leakage_matches_python(spark, sf_dir):
    """q_quality_split_leakage: groups, splits, rep-level truth pairs
    and leak classification recomputed in python must match."""
    import hashlib
    import re
    from itertools import combinations

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    groups: dict = {}
    n_docs = 0
    for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        n_docs += 1
        norm = r["text"].strip().lower()
        b = md5(str(r["doc_id"]))[:4]
        split = "test" if b < "0800" else ("val" if b < "1000" else "train")
        g = groups.setdefault(md5(norm), [None, norm, 0, False, False])
        if g[0] is None or r["doc_id"] < g[0]:
            g[0] = r["doc_id"]
        g[2] += 1
        if split == "train":
            g[3] = True
        else:
            g[4] = True
    exact_leak = sum(
        1 for _, _, n, tr, ev in groups.values() if n > 1 and tr and ev
    )
    hsh = {}
    flags = {}
    for rep, norm, _n, tr, ev in groups.values():
        toks = re.split(r"\s+", norm)
        k = max(len(toks) - 3, 0) + 1
        hsh[rep] = set(md5(" ".join(toks[i : i + 3])) for i in range(k))
        flags[rep] = (tr, ev)
    pairs = [
        (a, b)
        for a, b in combinations(sorted(hsh), 2)
        if len(hsh[a] & hsh[b]) / len(hsh[a] | hsh[b]) >= 0.5
    ]
    leak_pairs = sum(
        1
        for a, b in pairs
        if (flags[a][0] or flags[b][0]) and (flags[a][1] or flags[b][1])
    )
    row = QUERIES["q_quality_split_leakage"](spark, sf_dir).collect()[0]
    assert row["n_docs"] == n_docs
    assert row["n_groups"] == len(groups)
    assert row["n_exact_leak_groups"] == exact_leak
    assert row["n_neardup_pairs"] == len(pairs)
    assert row["n_neardup_leak_pairs"] == leak_pairs
    assert abs(row["exact_leak_rate"] - exact_leak / len(groups)) <= 1e-6
    if pairs:
        assert abs(row["neardup_leak_rate"] - leak_pairs / len(pairs)) <= 1e-6


def test_minhash_estimate_error_matches_python(spark, sf_dir):
    """q_text_minhash_estimate_error: slot matches, exact Jaccard and
    micro-quantized means recomputed in python over the same
    candidate set must match; the estimator must be roughly
    calibrated (avg exact Jaccard within 2/8 of each estimate)."""
    import hashlib
    import math
    import re
    from collections import defaultdict
    from itertools import combinations

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    reps: dict = {}
    for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        norm = r["text"].strip().lower()
        key = md5(norm)
        if key not in reps or r["doc_id"] < reps[key][0]:
            reps[key] = (r["doc_id"], norm)
    hsh, sigs = {}, {}
    for doc_id, norm in reps.values():
        toks = re.split(r"\s+", norm)
        n = max(len(toks) - 3, 0) + 1
        sh = [" ".join(toks[i : i + 3]) for i in range(n)]
        hsh[doc_id] = set(md5(x) for x in sh)
        sigs[doc_id] = [min(md5(f"{j}:{x}") for x in sh) for j in range(8)]
    buckets: dict = {}
    for d, sg in sigs.items():
        for b in range(4):
            buckets.setdefault(
                (b, md5(f"{b}|{sg[2 * b]}|{sg[2 * b + 1]}")), []
            ).append(d)
    cand = set()
    for ids in buckets.values():
        for a, b in combinations(sorted(ids), 2):
            cand.add((a, b))
    agg: dict = defaultdict(lambda: [0, 0, 0])
    for a, b in cand:
        slots = sum(1 for j in range(8) if sigs[a][j] == sigs[b][j])
        jac = len(hsh[a] & hsh[b]) / len(hsh[a] | hsh[b])
        jac_u = int(math.floor(jac * 1_000_000 + 0.5))
        err_u = int(math.floor(abs(slots * 125_000.0 - jac * 1_000_000) + 0.5))
        s = agg[slots]
        s[0] += 1
        s[1] += jac_u
        s[2] += err_u
    rows = QUERIES["q_text_minhash_estimate_error"](spark, sf_dir).collect()
    assert {r["est_slots"] for r in rows} == set(agg)
    for r in rows:
        n, jac_u, err_u = agg[r["est_slots"]]
        assert r["n_pairs"] == n
        assert abs(r["avg_exact_jaccard"] - jac_u / (n * 1e6)) <= 1e-6
        assert abs(r["mae"] - err_u / (n * 1e6)) <= 1e-6
        assert abs(r["avg_exact_jaccard"] - r["est_jaccard"]) <= 0.25
    assert agg, "fixture must produce candidate pairs"


def test_levene_matches_python(spark, sf_dir):
    """q_stats_levene: Brown–Forsythe F recomputed in python with
    positional group medians must match; F must be positive."""
    from collections import defaultdict

    vals: dict = defaultdict(list)
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    ):
        vals[r["l_returnflag"]].append(r["l_extendedprice"])
    zs: dict = {}
    for g, xs in vals.items():
        xs.sort()
        n = len(xs)
        m = (xs[(n + 1) // 2 - 1] + xs[n // 2]) / 2
        zs[g] = [abs(x - m) for x in xs]
    k = len(zs)
    n = sum(len(z) for z in zs.values())
    zbar = sum(sum(z) for z in zs.values()) / n
    ss_between = sum(len(z) * (sum(z) / len(z) - zbar) ** 2 for z in zs.values())
    ss_within = sum(
        sum((x - sum(z) / len(z)) ** 2 for x in z) for z in zs.values()
    )
    f = (ss_between / (k - 1)) / (ss_within / (n - k))
    row = QUERIES["q_stats_levene"](spark, sf_dir).collect()[0]
    assert (row["n_groups"], row["n_rows"]) == (k, n)
    assert (row["df_between"], row["df_within"]) == (k - 1, n - k)
    assert abs(row["f_stat"] - f) <= max(1e-5, abs(f) * 1e-6)
    assert row["f_stat"] > 0


def test_skyline_matches_bruteforce(spark, sf_dir):
    """q_window_skyline: the staircase output must equal the brute-
    force O(n²) dominance filter over the collapsed (quantity,
    best-price) points, per flag."""
    from collections import defaultdict

    best: dict = defaultdict(dict)
    counts: dict = defaultdict(int)
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    ):
        g, q = r["l_returnflag"], int(r["l_quantity"])
        best[g][q] = max(best[g].get(q, float("-inf")), r["l_extendedprice"])
        counts[(g, q)] += 1
    want = set()
    for g, pts in best.items():
        items = list(pts.items())
        for q, p in items:
            dominated = any(
                (q2 >= q and p2 >= p) and (q2 > q or p2 > p)
                for q2, p2 in items
            )
            if not dominated:
                want.add((g, q, p, counts[(g, q)]))
    got = {
        (r["l_returnflag"], r["quantity"], r["best_price"], r["n_at_q"])
        for r in QUERIES["q_window_skyline"](spark, sf_dir).collect()
    }
    assert got == want
    assert want, "non-vacuous"


def test_interval_sweep_equals_bruteforce_pairs(spark, sf_dir):
    """q_join_interval_grid's sweep-line identities (disjoint-pair
    complement + prior-end running max) vs literal pair enumeration
    over the same intervals — the check the grid→sweep rewrite
    must never drift from."""
    from itertools import combinations

    from pyspark.sql import functions as F

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    ed = lambda c: (F.unix_timestamp(c) / 86400).cast("long")  # noqa: E731
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.least(ed(F.col("o_orderdate")), ed(F.col("ship_end"))).alias("s"),
            F.greatest(ed(F.col("o_orderdate")), ed(F.col("ship_end"))).alias("e"),
        )
        .collect()
    )
    want: dict = {}
    by_prio: dict = {}
    for r in iv:
        by_prio.setdefault(r["priority"], []).append((r["s"], r["e"]))
    for prio, ivs in by_prio.items():
        n_pairs, widest = 0, None
        for (s1, e1), (s2, e2) in combinations(ivs, 2):
            if s1 <= e2 and s2 <= e1:
                n_pairs += 1
                ov = min(e1, e2) - max(s1, s2)
                widest = ov if widest is None else max(widest, ov)
        if n_pairs:
            want[prio] = (n_pairs, widest)
    got = {
        r["priority"]: (r["n_pairs"], r["max_overlap_days"])
        for r in QUERIES["q_join_interval_grid"](spark, sf_dir).collect()
    }
    assert got == want
    assert want, "non-vacuous"


def test_interval_sweep_first_start_day_no_phantom_self_overlap(
    spark, tmp_path
):
    """Regression: Spark's least() SKIPS nulls, so
    before the fix the empty prior-max frame on the FIRST start-day per
    priority made candidate (a) collapse to max_e - s — a phantom
    self-overlap of the earliest interval.  Repro from the advice:
    intervals [0,100] and [90,91] must report max_overlap_days = 1
    (the buggy sweep returned 100).  The fixture-data brute-force test
    above passes by data luck on dense data; this pins the edge."""
    import datetime as dt

    day = lambda d: dt.datetime(1970, 1, 1) + dt.timedelta(days=d)  # noqa: E731
    orders = spark.createDataFrame(
        [
            (1, 10, "O", 1.0, day(0), "1-URGENT"),   # interval [0, 100]
            (2, 11, "O", 2.0, day(90), "1-URGENT"),  # interval [90, 91]
            (3, 12, "O", 3.0, day(5), "2-HIGH"),     # lone interval: dropped
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day(100)),
            (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day(91)),
            (3, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day(6)),
        ],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    fx = str(tmp_path / "fx")
    orders.write.parquet(f"{fx}/orders.parquet")
    lineitem.write.parquet(f"{fx}/lineitem.parquet")
    got = {
        r["priority"]: (r["n_pairs"], r["max_overlap_days"])
        for r in QUERIES["q_join_interval_grid"](spark, fx).collect()
    }
    assert got == {"1-URGENT": (1, 1)}, got


def test_apportionment_quotas_sum_to_budget(spark, sf_dir):
    """Hamilton apportionment's defining contract: the per-stratum
    quotas sum to the budget EXACTLY (independent floors would not),
    and each quota is base or base+1."""
    rows = QUERIES["q_sample_apportion_lrm"](spark, sf_dir).collect()
    assert sum(r["quota"] for r in rows) == 1000
    for r in rows:
        assert r["quota"] in (r["base"], r["base"] + 1), tuple(r)
