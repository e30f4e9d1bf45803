"""§2.3-E — deduplication family: exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine.

Scale design (the reason each variant exists):
  * exact        — one hash-groupBy shuffle; the 100 TB workhorse.
  * minhash-LSH  — near-dup without the quadratic pair join: signature
                   per row (no shuffle) → explode tiny band keys →
                   bucket join only collides candidates.
  * simhash      — 64-bit sketch per doc; hamming-radius search via
                   band keys; cheapest near-dup filter.
  * n-gram jaccard — exact verification semantics, blocked by lang to
                   bound the pair space (and SQL-expressible → strong
                   oracle for the verify step the LSH paths share).
  * embedding    — semantic near-dup, blocked by label (stand-in for
                   an IVF/LSH coarse bucket at scale).
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from i3cols_spark.functions.arrays import (
    bucket_pairs,
    member_pairs,
    pair_structs as _pair_structs,
)
from i3cols_spark.functions.text import (
    SIG_PERMS,
    md5_minhash,
    normalize,
    shingle_hashes,
    tokens,
)
from i3cols_spark.functions.vectors import as_double
from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import materialize, spread, table


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text)))      AS text_hash,
           min(doc_id)                 AS keeper_doc_id,
           CAST(count(*) AS BIGINT)    AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash: one row per distinct
    text, keeper = min doc_id, multiplicity preserved.

    md5 (not xxhash64) because both engines implement the same RFC —
    the oracle checks actual hash values.  At 100 TB: a single
    hash-partition shuffle on a 16-byte key; AQE handles the skew of
    a viral duplicate.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5(normalize("text")))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _minhash_rep_graph(
    spark: SparkSession, sf_dir: str, materialize_grp: bool = False
):
    """Shared engine of the MinHash+LSH family: collapse exact
    duplicates, 32-perm signature, 8-band bucketing, exact-Jaccard
    verify.  Returns ``(grp, rep_pairs)`` — exact-dup groups
    (th, rep, ids, text) and verified rep-level pairs
    (rep_a, rep_b, jaccard ≥ 0.5).  See q_dedup_near_minhash for the
    plan rationale (collapse-first, single-exchange signature,
    bucket-expand instead of self-join).

    ``materialize_grp``: ``materialize`` the collapse groupBy (lazily)
    before fanning out.  Pass True ONLY from callers that consume grp /
    rep_pairs across SEPARATE JOBS (the connected-components callers:
    CC's edge checkpoint, its label checkpoint, and the final member
    join each run their own action, so Catalyst's ReuseExchange —
    which shares subtrees within ONE physical plan — cannot see the
    repetition and the collapse re-executes per job; the r12 stage
    audit measured the engine subtree running 4x inside
    q_dedup_minhash_cluster_rep).  Single-plan pair callers
    (q_dedup_near_minhash) must keep the default: for them
    ReuseExchange already shares the exchange, and an eager
    checkpoint of q_dedup_simhash_verified's 3-consumer signature
    table measured WORSE (8.8 → 10.5 s at sf0.1, local[32];
    NEGATIVES.md N9)."""
    num_perm, bands, rows_per_band = 32, 8, 4
    # Single-file fixture ⇒ single input split; spread the per-row
    # shingle/hash work across cores (at 100 TB the file count does it).
    # shingle_hashes: tokens hashed once, shingle fingerprint derived
    # from token hashes — no per-shingle string allocation (profiled:
    # building+hashing shingle STRINGS was ~60% of the query).
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    grp = docs0.groupBy(F.xxhash64(normalize("text")).alias("th")).agg(
        F.min("doc_id").alias("rep"),
        F.sort_array(F.collect_list("doc_id")).alias("ids"),
        F.first("text").alias("text"),
    )
    if materialize_grp:
        # One |distinct-texts|-sized materialization; every downstream
        # job (signature pipeline, CC checkpoints, member join) reads
        # it instead of re-running the corpus scan + collapse.
        grp = materialize(grp, lazy=True)
    docs = grp.select(F.col("rep").alias("doc_id"), shingle_hashes("text").alias("sh"))
    # Signature via explode → hash-aggregate with 32 min() accumulators:
    # map-side partial aggregation does the min-reduce before the
    # shuffle, and the plan never carries a giant nested-HOF expression
    # through a join (which Catalyst would otherwise inline and
    # re-evaluate per join side — measured 8× blowup).  Per-permutation
    # hashes salt the fixed-width shingle fingerprint.
    sh_rows = docs.select("doc_id", F.explode("sh").alias("sh_hash"))
    # ONE per-doc aggregation computes the 32-way signature AND keeps
    # the hashed shingle set for the verify step: the expensive shingle
    # HOF → explode → salted-hash stream is shuffled once, and all
    # three consumers (banding, verify-a, verify-b) hang off the same
    # exchange (ReusedExchange), instead of re-evaluating the lineage.
    per_doc = sh_rows.groupBy("doc_id").agg(
        F.collect_list("sh_hash").alias("shh"),
        *[
            F.min(F.xxhash64(F.lit(j), F.col("sh_hash"))).alias(f"h{j}")
            for j in range(num_perm)
        ],
    )
    sig = per_doc
    # Band keys are xxhash64 over plain h-columns → 8 small ints per doc.
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("doc_id", F.explode(band_entries).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )
    # Candidate pairs WITHOUT a self-join (a banded self-join re-ran the
    # signature aggregation per join side, measured ~2× the query cost).
    cand = bucket_pairs(banded, "bkey")
    # Verify only the candidates — on the HASHED shingle sets, not the
    # strings: the long arrays shuffle ~8× fewer bytes and compare with
    # fixed-width equality (64-bit collisions are the same negligible
    # approximation the signature itself already accepts).  Shingles
    # are distinct per doc, so collect_list of exploded hashes is a set.
    sh_a = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("shh").alias("sh_a"))
    sh_b = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("shh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    rep_pairs = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b"), "jaccard")
    )
    return grp, rep_pairs


def _group_pairs(grp: DataFrame, rep_pairs: DataFrame) -> DataFrame:
    """Member-level pair stream (doc_a, doc_b, jaccard) of a
    collapse-first rep graph: rep pairs expand across their groups at
    the rep jaccard (group members have identical shingle sets), and
    intra-group pairs are exactly 1.0.  Both are pure output
    materialization."""
    intra = (
        grp.filter(F.size("ids") >= 2)
        .select(F.explode(_pair_structs(F.col("ids"))).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return member_pairs(rep_pairs, grp).unionByName(intra)


def _rep_clusters(grp: DataFrame, rep_pairs: DataFrame) -> DataFrame:
    """One ``(doc_id, rep_id)`` row per member of a collapse-first rep
    graph: hook+pointer-jump connected components label the reps
    (``rep_pairs``: rep_a, rep_b), and every exact-dup member inherits
    its rep's label through one explode join.  rep_id is the cluster's
    min doc_id because reps are already their group minima."""
    from i3cols_spark.operators.graph import connected_components

    comp = connected_components(
        grp.select(F.col("rep").alias("id")),
        rep_pairs.select(F.col("rep_a").alias("a"), F.col("rep_b").alias("b")),
    )
    return (
        grp.select("rep", F.explode("ids").alias("doc_id"))
        .join(comp, F.col("rep") == F.col("id"))
        .select("doc_id", F.col("comp").alias("rep_id"))
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs, verified by true Jaccard
    — the member-level pair stream (doc_a, doc_b, jaccard ≥ 0.5), the
    artifact a dedup pipeline consumes.  The registered
    ``q_dedup_near_minhash`` query emits the oracle-checkable AUDIT of
    this stream; call this for the pairs themselves.

    Pipeline (SURVEY §2.3-E shingle→minhash→band→bucket-join):
      0. COLLAPSE EXACT DUPLICATES by normalized-text hash first:
         identical texts share every band key and verify at jaccard
         exactly 1.0, so running LSH over one representative per
         distinct text and expanding group pairs afterwards is
         semantics-preserving — and the quadratic candidate space
         shrinks by the duplication factor squared;
      1. 3-word shingles per distinct text → 32-perm MinHash signature
         → 8 band keys (banding tuned so P[miss | jaccard ≥ 0.9] <
         2e-4);
      2. explode band keys (8 rows/text) → bucket by (band, bkey):
         only hash-colliding texts meet — the pair space is the
         collision space, not n²;
      3. verify candidates with exact shingle Jaccard (array_intersect
         / array_union over the hashed shingle sets, re-joined only
         for the few candidates), keep jaccard ≥ 0.5;
      4. expand rep pairs to member pairs + intra-group pairs at 1.0
         (both output-bound).
    """
    return _group_pairs(*_minhash_rep_graph(spark, sf_dir))


@query(
    "q_dedup_near_minhash",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id, sh
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                   )) AS sh
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+') AS toks
                  FROM documents)
        )
    ),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    co AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(count(*) AS BIGINT) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tp AS (
        SELECT da, db,
               CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS j
        FROM co
        JOIN sz sa ON sa.doc_id = da
        JOIN sz sb ON sb.doc_id = db
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        (SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT)
         FROM (SELECT count(*) AS c FROM documents
               GROUP BY lower(trim(text))) g) AS n_exact_dup_pairs,
        (SELECT CAST(count(*) AS BIGINT) FROM tp WHERE j >= 0.5)
            AS n_true_pairs_05,
        (SELECT CAST(count(*) AS BIGINT) FROM tp WHERE j >= 0.9)
            AS n_true_pairs_90,
        TRUE AS precision_ok,
        TRUE AS recall_90_ok
    """,
)
def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup, emitted as its oracle-checkable AUDIT
    (the q_agg_approx_distinct r8 precedent): one
    row with the EXACT ground truth the oracle recomputes — doc count,
    exact-duplicate pair count, true pair counts at Jaccard ≥ 0.5 and
    ≥ 0.9 (inverted-index exact Jaccard, the q_dedup_ngram_jaccard
    semantics without the lang block) — plus two audited booleans on
    the LSH path itself:

    * ``precision_ok``: every emitted LSH pair is a true ≥ 0.5 pair
      (anti-join of found rep pairs against the truth — a broken
      verify step flips it);
    * ``recall_90_ok``: NO true ≥ 0.9 pair is missed (anti-join the
      other way; banding is tuned so P[miss | j ≥ 0.9] < 2e-4, and
      the fixed xxhash64 salts make the check deterministic —
      measured 0 misses at all three fixture SFs, 256/256 found at
      sf0.1).

    Why not hash the pair ROWS: the emitted set is defined by which
    band keys collide — a function of the engine-side 64-bit hash
    family with no DuckDB twin (the md5-family construction IS
    hash-checked end-to-end by q_dedup_minhash_lsh_verified; the
    member-pair stream itself is ``minhash_pairs`` and stays under
    tests/test_properties.py brute-force checks).  This form puts the
    ACCURACY CONTRACT of the production xxhash64 path under the
    driver gate instead of a rows-only record.

    Scale shape: the LSH side is the production plan (collapse →
    signature → band buckets → verify); the truth side is a test-SF
    audit (inverted-index exact Jaccard over distinct-text reps,
    the documented Θ(d²)-per-clique cost) that a production run drops
    with the booleans.
    """
    grp, rep_pairs = _minhash_rep_graph(spark, sf_dir)
    # Both audited booleans consume rep_pairs, and both anti-joins
    # BROADCAST one side (the truth resp. pair tables are tiny), so
    # neither consumer has a reusable exchange at the engine's top —
    # the whole signature/banding/verify subtree executed twice in the
    # final plan (r12 stage audit: duplicated ~8 s + ~3 s stage pairs).
    # The rep-level pair list is |verified pairs| rows of two ids + a
    # double — metadata-sized — so one lazy materialization collapses
    # the second execution.
    rep_pairs = materialize(rep_pairs, lazy=True)
    docs = table(spark, sf_dir, "documents")

    # Truth: exact Jaccard ≥ 0.5 over distinct-text REPS via the
    # inverted index (common ≥ 1 is implied, so nothing is lost),
    # weighted back to member-pair counts arithmetically.
    sizes = grp.select(F.col("rep"), F.size("ids").alias("sz"))
    shr = grp.select(
        F.col("rep").alias("doc_id"), shingle_hashes("text").alias("sh")
    )
    ex = shr.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("g"))
    a = ex.select(
        F.col("doc_id").alias("rep_a"), F.col("n").alias("na"), "g"
    )
    b = ex.select(
        F.col("doc_id").alias("rep_b"), F.col("n").alias("nb"), "g"
    )
    true_rep = (
        a.join(b, "g")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .groupBy("rep_a", "rep_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "j",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("j") >= 0.5)
        .join(sizes.select(F.col("rep").alias("rep_a"), F.col("sz").alias("sz_a")), "rep_a")
        .join(sizes.select(F.col("rep").alias("rep_b"), F.col("sz").alias("sz_b")), "rep_b")
        .select("rep_a", "rep_b", "j", (F.col("sz_a") * F.col("sz_b")).alias("w"))
        .transform(materialize)
    )

    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    dup_pairs = grp.agg(
        F.coalesce(
            F.sum(F.size("ids").cast("bigint") * (F.size("ids") - 1) / 2), F.lit(0)
        )
        .cast("bigint")
        .alias("n_exact_dup_pairs")
    )
    truth_counts = true_rep.agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("bigint").alias("cross_05"),
        F.coalesce(F.sum(F.when(F.col("j") >= 0.9, F.col("w"))), F.lit(0))
        .cast("bigint")
        .alias("cross_90"),
    )
    # Audited booleans: found ⊆ true (precision), true≥0.9 ⊆ found
    # (recall) — rep-level anti-joins; member expansion factors are
    # identical on both sides so rep-level subset ⟺ member-level.
    false_pos = rep_pairs.join(
        true_rep.select("rep_a", "rep_b"), ["rep_a", "rep_b"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_fp"))
    missed_90 = (
        true_rep.filter(F.col("j") >= 0.9)
        .join(rep_pairs.select("rep_a", "rep_b"), ["rep_a", "rep_b"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_miss"))
    )
    return (
        n_docs.crossJoin(dup_pairs)
        .crossJoin(truth_counts)
        .crossJoin(false_pos)
        .crossJoin(missed_90)
        .select(
            "n_docs",
            "n_exact_dup_pairs",
            (F.col("cross_05") + F.col("n_exact_dup_pairs"))
            .cast("bigint")
            .alias("n_true_pairs_05"),
            (F.col("cross_90") + F.col("n_exact_dup_pairs"))
            .cast("bigint")
            .alias("n_true_pairs_90"),
            (F.col("n_fp") == 0).alias("precision_ok"),
            (F.col("n_miss") == 0).alias("recall_90_ok"),
        )
    )


@query(
    "q_dedup_substring",
    oracle="""
    WITH g AS (
        SELECT doc_id, gram
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(text) - 39),
                       i -> substring(text, i, 40)
                   )) AS grams
            FROM documents
        ), unnest(grams) AS u(gram)
    ),
    p AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(count(*) AS BIGINT) AS shared
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sym AS (
        SELECT da AS doc_id, db AS partner, shared FROM p
        UNION ALL
        SELECT db, da, shared FROM p
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_partners,
               max(shared)              AS max_shared,
               min(partner)             AS first_partner
        FROM sym GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_partners, 0) AS n_partners,
           coalesce(a.max_shared, 0) AS max_shared,
           a.first_partner
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup signal (the training-data memorization
    control of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): for every document, how many other
    documents share a verbatim 40-character substring, how many
    distinct shared 40-grams the strongest partner overlaps on, and
    the smallest such partner id.  Linear output by design — one row
    per document (the round-7 lesson from the pair emitters), which
    is the form a keep/drop filter joins against.

    Plan: per-doc DISTINCT rolling 40-grams as 64-bit xxhash
    fingerprints (in-row HOF — the suffix-array of the original paper
    is a single-machine structure; the k-gram inverted index is its
    shuffle-native equivalent with identical ≥k-match semantics),
    explode → self-equi-join on the gram hash → per-pair shared-gram
    counts → symmetric per-doc aggregation → left join back so
    partner-less docs keep a zero row.  The oracle states the same
    thing over the literal substrings; engine-side fingerprints are
    the same 64-bit-collision trade every hashed-shingle operator in
    this file accepts.

    Scale: gram volume is ~|text| rows per doc (distinct-collapsed
    in-row first), and the join's cost concentrates on grams shared
    by many docs — boilerplate k-grams are the classic heavy-hitter
    skew (AQE skew-join territory, same as the shingle join); output
    stays one row per document at any duplication density.
    """
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    k = 40
    grams = F.when(
        F.length("text") >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - (k - 1)),
                lambda i: F.xxhash64(F.substr(F.col("text"), i, F.lit(k))),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = docs0.select("doc_id", F.explode(grams).alias("gh"))
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sym = pairs.select(
        F.col("da").alias("doc_id"), F.col("db").alias("partner"), "shared"
    ).unionAll(
        pairs.select(
            F.col("db").alias("doc_id"), F.col("da").alias("partner"), "shared"
        )
    )
    agg = sym.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.max("shared").alias("max_shared"),
        F.min("partner").alias("first_partner"),
    )
    base = table(spark, sf_dir, "documents").select("doc_id")
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_partners", F.lit(0)).alias("n_partners"),
        F.coalesce("max_shared", F.lit(0)).alias("max_shared"),
        "first_partner",
    )


#: DuckDB twin of the n-gram Jaccard family, shared by its oracles:
#: ``sh`` — distinct word-3-shingle sets per doc (with lang); the
#: closure chain adds lang-blocked Jaccard ≥ 0.2 ``pairs``, symmetric
#: ``edges`` and the recursive transitive closure ``reach(src, dst)``
#: (needs WITH RECURSIVE).
_NGRAM_SH_CTE = r"""sh AS (
        SELECT doc_id, lang, sh
        FROM (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                   )) AS sh
            FROM (SELECT doc_id, lang,
                         string_split_regex(lower(trim(text)), '\s+') AS toks
                  FROM documents)
        )
    )"""
_NGRAM_REACH_CTES = _NGRAM_SH_CTE + r""",
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
    ),
    edges AS (
        SELECT a_id AS a, b_id AS b FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )"""


@query(
    "q_dedup_text_report",
    oracle=f"""
    WITH RECURSIVE {_NGRAM_REACH_CTES},
    comp AS (
        SELECT src AS doc_id, min(dst) AS rep_id FROM reach GROUP BY src
    ),
    sizes AS (
        SELECT rep_id, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY rep_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def q_dedup_text_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REPORT for the text corpus — the summary every
    curation run publishes: how many near-dup clusters of each size
    exist and how many documents they hold (retention ratio =
    Σ n_clusters / Σ n_docs; singletons = unique content).  The text
    twin of q_dedup_cluster_sizes (which reports the embedding
    clustering).

    Two tiny aggregations over q_dedup_ngram_cluster_rep's linear
    (doc_id, rep_id) mapping — cluster sizes, then the size histogram
    — shuffling rows proportional to |clusters| and |distinct sizes|,
    negligible next to the clustering itself.
    """
    rep = q_dedup_ngram_cluster_rep(spark, sf_dir)
    return (
        rep.groupBy("rep_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


def minhash_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative output for the MinHash+LSH near-dup path
    (the family's second emitter): one ``(doc_id, rep_id)``
    row per document, rep_id = min doc_id of the LSH-candidate,
    Jaccard-≥0.5-verified cluster — linear output where the pair mode
    is quadratic in cluster size.  The PRODUCTION stream behind
    q_dedup_minhash_cluster_rep (which emits the oracle-checkable
    audit of this mapping since its round-10 flip).

    Same composition as q_dedup_ngram_cluster_rep: the shared
    collapse-first engine (_minhash_rep_graph) emits verified
    rep-level edges, hook+pointer-jump connected components label the
    reps, members inherit through one explode join; tests pin it to
    the brute-force clustering at sf0.001 and to ngram-rep
    equivalence on exact-duplicate groups.
    """
    return _rep_clusters(*_minhash_rep_graph(spark, sf_dir, materialize_grp=True))


@query(
    "q_dedup_minhash_cluster_rep",
    oracle=r"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, sh
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                   )) AS sh
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+') AS toks
                  FROM documents)
        )
    ),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    tp AS (
        SELECT da, db
        FROM (
            SELECT a.doc_id AS da, b.doc_id AS db,
                   CAST(count(*) AS BIGINT) AS common
            FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) co
        JOIN sz sa ON sa.doc_id = da
        JOIN sz sb ON sb.doc_id = db
        WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
    ),
    edges AS (
        SELECT da AS a, db AS b FROM tp
        UNION ALL
        SELECT db, da FROM tp
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS c FROM reach GROUP BY src)
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM comp)
            AS n_true_closure_clusters,
        TRUE AS exact_dups_coclustered_ok,
        TRUE AS rep_min_member_ok,
        TRUE AS refines_truth_ok
    """,
)
def q_dedup_minhash_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH cluster-representative mapping, emitted as its
    oracle-checkable AUDIT (same flip as
    q_dedup_near_minhash/q_dedup_simhash; the per-doc stream is
    ``minhash_cluster_members`` above, and the md5-family pipeline is
    value-hash-pinned end to end by
    q_dedup_minhash_cluster_rep_verified): one row with

    * ``n_docs`` and ``n_true_closure_clusters`` — the EXACT ground
      truth the oracle recomputes: component count of the transitive
      closure of the exact-3-shingle-Jaccard ≥ 0.5 doc graph
      (recursive CTE in DuckDB; inverted-index pairs + hook/pointer-
      jump CC in Spark — the two engines agree on the closure even
      though the LSH banding itself has no SQL twin);
    * ``exact_dups_coclustered_ok``: identical normalized texts land
      in one xx cluster (collapse-first invariance, from the OUTPUT);
    * ``rep_min_member_ok``: every cluster's rep_id is the min of its
      member doc_ids AND maps to itself (a drifted keep-min rule or a
      rep that isn't a member flips it);
    * ``refines_truth_ok``: every xx cluster is contained in exactly
      ONE true-closure component — guaranteed when the verify step
      admits only true j ≥ 0.5 edges, so a broken verify (admitting a
      false candidate) flips it.

    Scale shape: the LSH side is the production plan; the truth side
    (inverted-index exact Jaccard over distinct-text reps + CC) is a
    test-SF audit a production run drops with the booleans.
    """
    xx = materialize(minhash_cluster_members(spark, sf_dir))
    grp, _ = _minhash_rep_graph(spark, sf_dir, materialize_grp=True)

    # Truth: exact j >= 0.5 rep pairs via the inverted index, closed
    # transitively; members inherit through the exact-dup groups.
    shr = grp.select(
        F.col("rep").alias("doc_id"), shingle_hashes("text").alias("sh")
    )
    ex = shr.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    ta = ex.select(
        F.col("doc_id").alias("rep_a"), F.col("n").alias("na"),
        F.col("g").alias("ga"),
    )
    tb = ex.select(
        F.col("doc_id").alias("rep_b"), F.col("n").alias("nb"),
        F.col("g").alias("gb"),
    )
    true_pairs = (
        ta.join(
            tb,
            (F.col("ga") == F.col("gb")) & (F.col("rep_a") < F.col("rep_b")),
        )
        .groupBy("rep_a", "rep_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
            >= 0.5
        )
        .select("rep_a", "rep_b")
    )
    truth = (
        _rep_clusters(grp, true_pairs)
        .withColumnRenamed("rep_id", "tcomp")
        .transform(materialize)
    )

    n_docs = (
        table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    n_truth = truth.agg(
        F.countDistinct("tcomp").cast("bigint").alias("n_true_closure_clusters")
    )
    # identical texts → one xx cluster
    dup_chk = (
        grp.select(F.col("th"), F.explode("ids").alias("doc_id"))
        .join(xx, "doc_id")
        .groupBy("th")
        .agg(F.countDistinct("rep_id").alias("nr"))
        .agg(F.max("nr").alias("max_nr"))
    )
    # rep = min member AND rep maps to itself
    rep_chk = xx.groupBy("rep_id").agg(
        F.min("doc_id").alias("min_id"),
        F.max(F.when(F.col("doc_id") == F.col("rep_id"), 1).otherwise(0)).alias(
            "has_self"
        ),
    ).agg(
        F.sum(
            F.when(
                (F.col("min_id") == F.col("rep_id")) & (F.col("has_self") == 1),
                0,
            ).otherwise(1)
        ).alias("n_rep_bad")
    )
    # each xx cluster inside exactly one truth component
    refine_chk = (
        xx.join(truth, "doc_id")
        .groupBy("rep_id")
        .agg(F.countDistinct("tcomp").alias("nt"))
        .agg(F.max("nt").alias("max_nt"))
    )
    return (
        n_docs.crossJoin(n_truth)
        .crossJoin(dup_chk)
        .crossJoin(rep_chk)
        .crossJoin(refine_chk)
        .select(
            "n_docs",
            "n_true_closure_clusters",
            (F.col("max_nr") == 1).alias("exact_dups_coclustered_ok"),
            (F.col("n_rep_bad") == 0).alias("rep_min_member_ok"),
            (F.col("max_nt") == 1).alias("refines_truth_ok"),
        )
    )


def simhash_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash sketch + its 4 16-bit band keys —
    the PRODUCTION output of the xxhash64 SimHash path (one row per
    doc; what q_dedup_simhash emitted before its round-10 audit flip,
    still what a pipeline consumes downstream).

    Near-dup search = equality on any band (pigeonhole: hamming ≤ 3
    ⇒ at least one of 4 bands identical).  At scale the sketch column
    is 8 bytes per doc — the join input shrinks by ~1000× vs raw text.

    Plan: collapse exact duplicates by normalized-text hash (identical
    token multisets ⇒ identical sketch — compute each distinct text's
    votes once, then explode the member list back out), token explode
    → one hash-aggregate with 64 sum() vote accumulators (map-side
    combined), then the bit assembly on the 64 plain columns — same
    no-giant-HOF rule as the MinHash query (functions.text.simhash64
    keeps the per-row expression form for embedding in other
    pipelines).
    """
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    grp = docs0.groupBy(F.xxhash64(normalize("text")).alias("th")).agg(
        F.collect_list("doc_id").alias("ids"),
        F.first("text").alias("text"),
    )
    tok_rows = grp.select("th", F.explode(tokens("text")).alias("tok")).select(
        "th", F.xxhash64("tok").alias("h")
    )
    votes = tok_rows.groupBy("th").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        bit_value = F.lit(2**b if b < 63 else -(2**63)).cast("long")
        sim = sim + F.when(F.col(f"v{b}") >= 0, bit_value).otherwise(F.lit(0).cast("long"))
    sketches = votes.select("th", sim.alias("simhash"))
    out = (
        grp.select("th", "ids")
        .join(sketches, "th")
        .select(F.explode("ids").alias("doc_id"), "simhash")
    )
    for b in range(4):
        out = out.withColumn(
            f"band{b}",
            F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).cast("int"),
        )
    return out


@query(
    "q_dedup_simhash",
    oracle="""
    WITH d AS (
      SELECT lower(trim(text)) AS t, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_distinct_texts,
        (SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) FROM d)
            AS n_exact_dup_pairs,
        TRUE AS dup_sketch_equal_ok,
        TRUE AS bands_decompose_ok,
        TRUE AS estimator_bound_ok
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 SimHash path, emitted as its oracle-checkable AUDIT
    (the q_dedup_near_minhash r9 precedent;
    the per-doc sketch stream itself is ``simhash_sketches`` above,
    and the md5-family construction is value-hash-pinned end to end
    by q_dedup_simhash_verified): one row with the exact corpus
    ground truth the oracle recomputes — doc count, distinct-text
    count, exact-duplicate pair count — plus three audited booleans
    on the production sketch path:

    * ``dup_sketch_equal_ok``: documents with identical normalized
      text carry identical (simhash, band0..3) — the collapse-first
      invariance, checked from the OUTPUT against text groups, not
      assumed from the construction;
    * ``bands_decompose_ok``: every row's four 16-bit bands
      reassemble bit-exactly to its sketch (a broken band split
      silently destroys LSH recall — this catches it);
    * ``estimator_bound_ok``: over EVERY banded candidate rep pair,
      the SimHash angle estimate is within 0.35 of the truth —
      |hamming/64 − θ/π| ≤ 0.35 where θ = arccos of the exact
      token-count cosine (the quantity SimHash sketches, Charikar
      2002).  Measured max deviation 0.26 over 228 k candidates at
      sf0.1 (0.19/0.20 at the smaller SFs); a broken sketch — sign
      flip, wrong bit weight, vote miscount — pushes the deviation
      toward ~0.5.  Deterministic: fixed hash family, fixed data.

    Why not hash the sketch ROWS: xxhash64 has no DuckDB twin (the
    same reason q_dedup_near_minhash flipped to this form in r9).

    Scale shape: the sketch side is the production plan; the truth
    side (exact token-count cosine on BANDED CANDIDATES only — never
    all pairs) is a test-SF audit a production run drops with the
    booleans.
    """
    # Materialize the two corpus-derived frames once (lazily): the
    # audit's 1-row boolean branches meet in crossJoins whose sides
    # execute as SEPARATE broadcast-subquery jobs, so the sketch and
    # text-hash subtrees re-ran per branch (r12 stage audit: six
    # 11-18 s stages of the same subtree; ReuseExchange cannot share
    # across jobs).  Both frames are narrow per-doc rows.
    sk = materialize(simhash_sketches(spark, sf_dir), lazy=True)
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    ids = docs0.select(
        "doc_id", F.xxhash64(normalize("text")).alias("th")
    ).transform(materialize, lazy=True)

    n_docs = docs0.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    dgrp = ids.groupBy("th").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dstats = dgrp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_texts"),
        F.coalesce(F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0))
        .cast("bigint")
        .alias("n_exact_dup_pairs"),
    )

    # dup_sketch_equal_ok: one distinct (simhash, bands) per text group.
    dup_chk = (
        ids.join(sk, "doc_id")
        .groupBy("th")
        .agg(
            F.countDistinct(
                F.struct("simhash", "band0", "band1", "band2", "band3")
            ).alias("nv")
        )
        .agg(F.max("nv").alias("max_nv"))
    )

    # bands_decompose_ok: reassemble the 4 bands and compare.
    reassembled = sum(
        (
            F.shiftleft(F.col(f"band{b}").cast("long"), 16 * b)
            for b in range(1, 4)
        ),
        F.col("band0").cast("long"),
    )
    band_chk = sk.agg(
        F.sum(F.when(reassembled == F.col("simhash"), 0).otherwise(1)).alias(
            "n_band_bad"
        )
    )

    # estimator_bound_ok: banded candidate rep pairs vs exact
    # token-count cosine.  Rep = min doc_id per distinct text (the
    # family's collapse convention); candidates come from the 4-band
    # LSH — the production access pattern, so the audit never
    # enumerates all pairs.
    reps = dgrp.select("th").join(
        ids.groupBy("th").agg(F.min("doc_id").alias("rep")), "th"
    )
    rsk = sk.join(reps, sk.doc_id == reps.rep).select(
        "rep", "simhash", "band0", "band1", "band2", "band3"
    )
    keyed = None
    for k in range(4):
        part = rsk.select(
            "rep",
            "simhash",
            F.lit(k).alias("band"),
            F.col(f"band{k}").alias("bucket"),
        )
        keyed = part if keyed is None else keyed.unionAll(part)
    ka = keyed.select(
        F.col("rep").alias("ra"), F.col("simhash").alias("ha"), "band", "bucket"
    )
    kb = keyed.select(
        F.col("rep").alias("rb"),
        F.col("simhash").alias("hb"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand = (
        ka.join(
            kb,
            (F.col("band") == F.col("band_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("ra") < F.col("rb")),
        )
        .select(
            "ra",
            "rb",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hd"),
        )
        .dropDuplicates(["ra", "rb"])
    )
    # The truth side's (rep, tok, c) table feeds THREE consumers
    # (norms + both dot-product join sides); its exchanges are shared
    # by AQE stage reuse.  A lazy checkpoint here was tried (r12)
    # and REVERTED — measured slower at sf0.1 (checkpoint write/read
    # of the |distinct texts|×|tokens| table beats nothing, since the
    # post-shuffle aggregate is all the consumers re-run), same
    # single-plan lesson as q_dedup_simhash_verified (NEGATIVES.md N11).
    tc = (
        docs0.groupBy(F.xxhash64(normalize("text")).alias("th"))
        .agg(F.min("doc_id").alias("rep"), F.first("text").alias("text"))
        .select("rep", F.explode(tokens("text")).alias("tok"))
        .groupBy("rep", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nrm = tc.groupBy("rep").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nm")
    )
    ta = tc.select(
        F.col("rep").alias("ra"), F.col("tok").alias("t"), F.col("c").alias("ca")
    )
    tb = tc.select(
        F.col("rep").alias("rb2"),
        F.col("tok").alias("t2"),
        F.col("c").alias("cb"),
    )
    dots = (
        cand.join(ta, "ra")
        .join(tb, (F.col("t") == F.col("t2")) & (F.col("rb") == F.col("rb2")))
        .groupBy("ra", "rb", "hd")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    dev = (
        dots.join(
            nrm.select(F.col("rep").alias("ra"), F.col("nm").alias("na")), "ra"
        )
        .join(
            nrm.select(F.col("rep").alias("rb"), F.col("nm").alias("nb")), "rb"
        )
        .select(
            F.abs(
                F.col("hd") / F.lit(64.0)
                - F.acos(
                    F.least(
                        F.lit(1.0), F.col("dot") / (F.col("na") * F.col("nb"))
                    )
                )
                / F.lit(float(math.pi))
            ).alias("d")
        )
        .agg(F.sum(F.when(F.col("d") <= 0.35, 0).otherwise(1)).alias("n_dev_bad"))
    )

    return (
        n_docs.crossJoin(dstats)
        .crossJoin(dup_chk)
        .crossJoin(band_chk)
        .crossJoin(dev)
        .select(
            "n_docs",
            "n_distinct_texts",
            "n_exact_dup_pairs",
            (F.col("max_nv") == 1).alias("dup_sketch_equal_ok"),
            (F.col("n_band_bad") == 0).alias("bands_decompose_ok"),
            (F.col("n_dev_bad") == 0).alias("estimator_bound_ok"),
        )
    )


def _ngram_rep_graph(
    spark: SparkSession, sf_dir: str, materialize_grp: bool = False
):
    """Shared engine of the n-gram Jaccard family: collapse exact
    duplicates, then the inverted-index similarity join over one
    representative per group.  Returns ``(grp, rep_pairs)`` — the
    exact-dup groups (lang, rep, ids, sh) and the rep-level pair list
    (rep_a, rep_b, jaccard ≥ 0.2).  See q_dedup_ngram_jaccard for the
    plan rationale (collapse-first, ReuseExchange single evaluation of
    shingle_hashes, |union| from ridden-along sizes).

    ``materialize_grp``: ``materialize`` the collapsed+shingled groups
    (lazily) before fan-out — True only for the connected-components callers,
    whose consumers run in separate jobs ReuseExchange cannot share
    across (see _minhash_rep_graph for the full rationale)."""
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    grp = (
        docs0.groupBy("lang", F.xxhash64(normalize("text")).alias("th"))
        .agg(
            F.min("doc_id").alias("rep"),
            F.sort_array(F.collect_list("doc_id")).alias("ids"),
            F.first("text").alias("text"),
        )
        .select("lang", "rep", "ids", shingle_hashes("text").alias("sh"))
    )
    if materialize_grp:
        grp = materialize(grp, lazy=True)
    # Per-rep shingle count rides ALONG the exploded rows instead of
    # being a separate `grp` consumer: the expensive shingle_hashes
    # projection then has exactly ONE evaluation site — the self-join
    # sides are structurally identical subplans, so ReuseExchange
    # computes them once — and the two per-rep size joins disappear
    # (|union| = n_a + n_b - common from columns already in the agg).
    sh_rows = grp.select(
        "lang", "rep", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )
    a, b = sh_rows.alias("a"), sh_rows.alias("b")
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    rep_pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .groupBy(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .agg(
            F.count("*").alias("common"),
            F.first("a.n").alias("n_a"),
            F.first("b.n").alias("n_b"),
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.2)
        .select("rep_a", "rep_b", "jaccard")
    )
    return grp, rep_pairs


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_NGRAM_SH_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.2, blocked by lang.

    This is the brute-force (verification) semantics the MinHash path
    approximates — expressed relationally so DuckDB can check it.
    Jaccard = int/int division → bit-identical, no rounding.

    Plan, outside-in:
      1. COLLAPSE EXACT DUPLICATES first: group docs by (lang,
         xxhash64(normalized text)).  Near-dup pair enumeration is
         quadratic in the number of *distinct* texts — collapsing
         before the index means a duplication factor of d shrinks the
         quadratic term d², leaving only output-bound expansion
         (measured: the uncollapsed index was 13.7× slower at 10×
         replicated data; this form is ~1×).  This is the standard
         production order: exact dedup before near-dedup.
      2. Inverted-index (sparse) similarity join over one
         REPRESENTATIVE per group — explode distinct shingles,
         equi-join on (lang, shingle), count common shingles per rep
         pair, derive |union| = |a|+|b|-common from per-rep sizes.
         Only pairs sharing ≥1 shingle materialize (jaccard ≥ 0.2 ⇒
         common ≥ 1: lossless), versus the O(block²) pair join whose
         per-pair array recompute measured 100× slower.  Shingle
         identity is the 64-bit token-hash fingerprint — fixed-width
         shuffle + compare.  Frequent-shingle skew on the join key is
         AQE skew-join territory.
      3. EXPAND back to doc pairs: rep-pair jaccard applies to every
         (member_a, member_b) combo; intra-group pairs are exactly
         1.0 (identical shingle sets).  Both expansions are pure
         output materialization.
    """
    return _group_pairs(*_ngram_rep_graph(spark, sf_dir))


@query(
    "q_dedup_ngram_cluster_rep",
    oracle=f"""
    WITH RECURSIVE {_NGRAM_REACH_CTES}
    SELECT src AS doc_id, min(dst) AS rep_id
    FROM reach
    GROUP BY src
    """,
)
def q_dedup_ngram_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION output mode for near-dup dedup:
    one ``(doc_id, rep_id)`` row per document — rep_id = the min
    doc_id of its n-gram-Jaccard-≥0.2 cluster — instead of the
    all-pairs list q_dedup_ngram_jaccard emits.

    Why this exists: pair output is quadratic in cluster size — the
    distinct-10× probe measured ngram_jaccard at 4.3× purely from
    ~10,000× more true pairs, and at 100 TB a popular boilerplate
    cluster emits billions of rows.  The rep mapping is LINEAR in the
    corpus: exactly one output row per document, whatever the cluster
    structure — the form a curation pipeline actually joins against
    (keep doc_id where doc_id = rep_id, or group by rep_id).

    Plan: the shared collapse-first inverted-index engine
    (_ngram_rep_graph) emits rep-level edges; hook+pointer-jump
    connected components (operators/graph.py — O(log n) rounds, edges
    materialised once) label each representative with its
    cluster min; exact-dup members inherit their rep's label through
    one explode join.  Cluster ids equal min member doc_id because
    reps are already their group minima.  No intra-group pair
    expansion anywhere — the d² term is gone from the OUTPUT as well
    as from the join.

    The oracle rebuilds the same clusters by recursive-CTE transitive
    closure over doc-level pairs — quadratic in component size, fine
    at oracle SF, which is exactly the asymmetry that makes the rep
    mode the production path.

    Density ceiling (measured at the round-7 d100 probe): EXACT Jaccard
    over every true pair costs O(Σ|posting|²) in the inverted-index
    join — at the d100 probe (every text has 99 near-partners) that
    is ~10^10 intermediate rows, a real-cluster-sized job that an
    8 GiB local JVM cannot finish.  At high near-dup density the
    production route is q_dedup_minhash_cluster_rep: LSH banding
    bounds the candidate space to colliding pairs (d100: 42 s,
    linear output), with exact-Jaccard verification of candidates
    preserving precision.
    """
    return _rep_clusters(*_ngram_rep_graph(spark, sf_dir, materialize_grp=True))


@query(
    "q_dedup_embedding",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT b_id AS vec_id, min(a_id) AS rep_id
    FROM pairs WHERE cos_sim >= 0.35
    GROUP BY b_id
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: map each vector to its smallest-id
    ≥τ neighbor (the cluster representative it would collapse into).

    label is the blocking key — the stand-in for an IVF coarse
    quantizer / LSH bucket partition column at 100 TB.  Pair scoring
    is the shared block-nested-loop GEMM (similarity.blocked_pair_sims):
    pair rows exist only above the threshold, everything below stays
    inside a float64 matrix multiply.
    """
    from i3cols_spark.operators.similarity import blocked_pair_sims

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    return (
        blocked_pair_sims(emb, threshold=0.35)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.min("a_id").alias("rep_id"))
    )


@query(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id, b.source
    FROM batch b LEFT JOIN corpus c ON b.h = c.h
    WHERE c.h IS NULL
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: screen an incoming batch (a 1-in-10
    deterministic slice standing in for today's crawl) against the
    EXISTING corpus and admit only content-novel documents — the
    steady-state form of dedup in a production pipeline, where
    yesterday's corpus is fixed and only the delta is in flight.

    Shape: both sides reduce to content digests (md5 of the text —
    16 bytes rides the exchange, never the document), the corpus side
    collapses to distinct hashes FIRST (map-side combine; the corpus's
    internal duplicates never multiply the join), then one
    hash-partitioned LEFT ANTI join.  At 100 TB the corpus digest set
    is the only reusable state — in production it would be the
    persisted output of the previous run (sources/ingest.write_columns),
    making each increment's cost proportional to the batch, not the
    corpus; here both sides derive from the same fixture table so the
    oracle can see them.
    """
    docs = table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    return batch.join(corpus, "h", "left_anti").select("doc_id", "source")


@query(
    "q_dedup_incremental_near",
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
               )) AS sh
        FROM (SELECT doc_id, lang,
                     string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents)
    ),
    hits AS (
        SELECT b.doc_id,
               c.doc_id AS best_match,
               CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(b.sh, c.sh))) AS jaccard,
               row_number() OVER (
                   PARTITION BY b.doc_id
                   ORDER BY CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
                            / len(list_distinct(list_concat(b.sh, c.sh)))
                            DESC, c.doc_id
               ) AS rn
        FROM sh b JOIN sh c
          ON b.lang = c.lang AND b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(b.sh, c.sh))) >= 0.5
    )
    SELECT d.doc_id,
           h.best_match,
           h.jaccard AS best_jaccard,
           h.best_match IS NOT NULL AS is_near_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN (SELECT * FROM hits WHERE rn = 1) h ON d.doc_id = h.doc_id
    """,
)
def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup: screen an incoming batch (the 1-in-10
    slice, as q_dedup_incremental) against the existing corpus for
    3-gram Jaccard ≥ 0.5 — the crawl-ingest gate that rejects
    near-rewrites, not just byte-identical copies.  One row per batch
    document: its best corpus partner (highest jaccard, smallest id
    tiebreak) or NULL.

    Plan: the corpus side builds the SAME collapse-first inverted
    shingle index as the full pair engine, but the probe side is only
    the batch — cost is |batch| × (shared-shingle postings), not
    corpus², and the corpus index is exactly the reusable state a
    production pipeline persists between increments.  The top-1 window
    runs over batch-sized candidate rows.  Jaccard is int/int IEEE
    division (bit-identical cross-engine, unrounded); the rank's
    (jaccard DESC, id) total order makes top-1 deterministic.
    """
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    is_batch = F.col("doc_id") % 10 == 0
    sh = docs0.select(
        "doc_id", "lang", is_batch.alias("in_batch"),
        shingle_hashes("text").alias("sh"),
    )
    sh_rows = sh.select(
        "doc_id", "lang", "in_batch",
        F.size("sh").alias("n"), F.explode("sh").alias("shingle"),
    )
    b, c = sh_rows.alias("b"), sh_rows.alias("c")
    jac = F.col("common").cast("double") / (
        F.col("n_b") + F.col("n_c") - F.col("common")
    )
    cand = (
        b.join(
            c,
            (F.col("b.lang") == F.col("c.lang"))
            & (F.col("b.shingle") == F.col("c.shingle"))
            & F.col("b.in_batch")
            & ~F.col("c.in_batch"),
        )
        .groupBy(F.col("b.doc_id").alias("bid"), F.col("c.doc_id").alias("cid"))
        .agg(
            F.count("*").alias("common"),
            F.first("b.n").alias("n_b"),
            F.first("c.n").alias("n_c"),
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("bid").orderBy(F.desc("jaccard"), F.asc("cid"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("bid").alias("doc_id"),
            F.col("cid").alias("best_match"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    base = table(spark, sf_dir, "documents").filter(is_batch).select("doc_id")
    return base.join(best, "doc_id", "left").select(
        "doc_id",
        "best_match",
        "best_jaccard",
        F.col("best_match").isNotNull().alias("is_near_dup"),
    )


@query(
    "q_dedup_containment",
    oracle="""
    WITH d AS (
        SELECT min(doc_id) AS rep, lang,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split_regex(norm,
                       '\\s+')) - 2, 1)),
                   i -> concat_ws(' ',
                        string_split_regex(norm, '\\s+')[i],
                        string_split_regex(norm, '\\s+')[i+1],
                        string_split_regex(norm, '\\s+')[i+2])
               )) AS sh
        FROM (SELECT doc_id, lang, lower(trim(text)) AS norm FROM documents)
        GROUP BY lang, norm
    )
    SELECT a.rep AS doc_sub, b.rep AS doc_super,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
               AS containment
    FROM d a JOIN d b ON a.lang = b.lang AND a.rep <> b.rep
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.6
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle CONTAINMENT ≥ 0.6 between distinct texts
    (lang-blocked): C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| — the
    asymmetric companion to q_dedup_ngram_jaccard that Jaccard
    misses: a short document quoted inside a long one scores near
    containment 1 but tiny Jaccard (union is dominated by the long
    side).  This is how pipelines catch boilerplate inclusion,
    quote-expansion dups, and benchmark text embedded in larger pages.

    Same scale shape as the Jaccard op (its docstring carries the
    measurements): exact-dup collapse first, inverted-index equi-join
    on hashed shingles over one representative per distinct text —
    pairs sharing zero shingles never exist, |sh(a)| rides the
    exploded rows.  Containment = int/int per-row division —
    bit-identical, unrounded.  Output stays at the representative
    level: the member expansion is q_dedup_ngram_jaccard's job; this
    query is the subset-detector over distinct content.
    """
    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    grp = (
        docs0.groupBy("lang", F.xxhash64(normalize("text")).alias("th"))
        .agg(F.min("doc_id").alias("rep"), F.first("text").alias("text"))
        .select("lang", "rep", shingle_hashes("text").alias("sh"))
    )
    sh_rows = grp.select(
        "lang", "rep", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )
    a, b = sh_rows.alias("a"), sh_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.rep") != F.col("b.rep")),
        )
        .groupBy(F.col("a.rep").alias("doc_sub"), F.col("b.rep").alias("doc_super"))
        .agg(F.count(F.lit(1)).alias("common"), F.first("a.n").alias("n_sub"))
        .withColumn(
            "containment", F.col("common").cast("double") / F.col("n_sub")
        )
        .filter(F.col("containment") >= 0.6)
        .select("doc_sub", "doc_super", "containment")
    )


@query(
    "q_dedup_url_canon",
    oracle=r"""
    WITH raw AS (
        SELECT doc_id,
               CASE doc_id % 4
                   WHEN 0 THEN 'https://www.' || source || '.example.com/doc/'
                               || CAST(doc_id % 97 AS VARCHAR)
                   WHEN 1 THEN 'HTTP://' || source || '.EXAMPLE.COM/doc/'
                               || CAST(doc_id % 97 AS VARCHAR) || '/'
                   WHEN 2 THEN 'https://' || source || '.example.com/doc/'
                               || CAST(doc_id % 97 AS VARCHAR)
                               || '?utm_source=x&ref=y'
                   ELSE 'https://www.' || source || '.example.com/doc/'
                               || CAST(doc_id % 97 AS VARCHAR) || '#frag'
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(url), '^https?://', ''),
                           '^www\.', ''),
                       '[?#].*$', ''),
                   '/+$', '') AS canon_url
        FROM raw
    )
    SELECT canon_url,
           CAST(count(*) AS BIGINT) AS n_urls,
           min(doc_id)              AS keeper_doc_id
    FROM canon GROUP BY canon_url
    """,
)
def q_dedup_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the fetch-layer twin of text
    dedup: the same page arrives under scheme/case/www/trailing-slash/
    tracking-param variants, and the crawler must collapse them BEFORE
    any content fetch or text dedup runs.

    The fixture synthesizes four deterministic variants per document
    (scheme case, www prefix, trailing slash, ?utm tracking + #fragment)
    so the canonicalizer provably collapses every class; canonical form
    = lowercase, scheme stripped, leading www. stripped, query/fragment
    stripped, trailing slashes stripped.

    Scale shape: the canonicalizer is a chain of anchored regexp_replace
    projections — whole-stage codegen, zero Python — followed by ONE
    hash-groupBy on the canonical string (the identical plan to
    q_dedup_exact, whose 16-byte-digest trick applies verbatim if the
    canonical URL is long).  Anchored patterns match at most once, so
    Spark's replace-all and DuckDB's replace-first semantics agree.
    """
    docs = table(spark, sf_dir, "documents")
    path = (F.col("doc_id") % 97).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://www."), F.col("source"),
                     F.lit(".example.com/doc/"), path),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("HTTP://"), F.col("source"),
                     F.lit(".EXAMPLE.COM/doc/"), path, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/doc/"), path,
                     F.lit("?utm_source=x&ref=y")),
        )
        .otherwise(
            F.concat(F.lit("https://www."), F.col("source"),
                     F.lit(".example.com/doc/"), path, F.lit("#frag")),
        )
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https?://", ""),
                r"^www\.", ""),
            r"[?#].*$", ""),
        r"/+$", "")
    return (
        docs.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


#: Band count of the md5-family LSH: 2 signature rows per band.
_MD5_BANDS = SIG_PERMS // 2

#: DuckDB twin of ``functions.text.md5_minhash`` over a shingle list
#: ``sh``: the ``sig{j}`` select-list.
_MD5_SIG_SQL = ", ".join(
    f"list_min(list_transform(sh, x -> md5('{j}:' || x))) AS sig{j}"
    for j in range(SIG_PERMS)
)


def _md5_bands_sql(src: str, lead: str = "") -> str:
    """DuckDB twin of ``_md5_band_keys``: one UNION ALL branch per band
    over the ``sig{j}`` columns of ``src``, each led by ``lead``."""
    return " UNION ALL ".join(
        f"SELECT {lead}CAST({b} AS BIGINT) AS band, "
        f"md5('{b}|' || sig{2*b} || '|' || sig{2*b+1}) AS bucket FROM {src}"
        for b in range(_MD5_BANDS)
    )


def _md5_band_keys(sigs: DataFrame, *carry: str) -> DataFrame:
    """The md5-family band keys: ``(*carry, band, bucket)`` rows, bucket =
    md5('{b}|' || sig{2b} || '|' || sig{2b+1}), one ``unionAll`` branch
    per band.  The branch form is measured: both explode rewrites of it
    ran slower (r12 note in q_dedup_lsh_bucket_audit)."""
    return functools.reduce(
        DataFrame.unionAll,
        [
            sigs.select(
                *carry,
                F.lit(b).cast("bigint").alias("band"),
                F.md5(
                    F.concat(
                        F.lit(f"{b}|"), F.col(f"sig{2*b}"), F.lit("|"),
                        F.col(f"sig{2*b+1}"),
                    )
                ).alias("bucket"),
            )
            for b in range(_MD5_BANDS)
        ],
    )


@query(
    "q_text_minhash_signature",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_transform(
                   range(0, greatest(len(toks) - 3, 0) + 1),
                   i -> array_to_string(toks[i+1:i+3], ' ')
               ) AS sh
        FROM t
    )
    SELECT doc_id,
           {_MD5_SIG_SQL}
    FROM s
    """,
)
def q_text_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature with a CROSS-ENGINE hash family — md5 over
    salted word-3-gram shingles, min taken LEXICOGRAPHICALLY on the
    hex digest (identical lowercase hex in both engines), one column
    per permutation.

    q_dedup_near_minhash is the production path (xxhash64 → bigint,
    rows-only evidence because DuckDB has no xxhash64); THIS query
    pins the minhash construction itself — shingling window, salt
    scheme, min-reduce — under a full value-hash oracle, so the
    rows-only twin's structure is no longer unverifiable.

    Scale shape: per-row ``transform``+``array_min`` over the shingle
    array — all whole-stage codegen, zero shuffle, zero Python.  The
    shingle array is materialized in a separate projection so each
    permutation's min-reduce re-reads the array rather than re-running
    tokenize+slice 8× (Catalyst keeps non-cheap multiply-referenced
    projections un-collapsed).
    """
    from i3cols_spark.functions.text import shingles

    # spread(): the single-file fixture is one input split, and this
    # query is ONE map stage (scan → signatures → sink) — so the whole
    # 8-permutation salted-md5 workload ran on a single task (r12
    # stage audit: a 2-stage plan with 1.6 s on one core).  Narrow
    # (doc_id, text) rows shuffle once; no-op at production file
    # counts.
    docs = spread(table(spark, sf_dir, "documents"), spark)
    staged = docs.select("doc_id", shingles("text").alias("sh"))
    return staged.select("doc_id", *md5_minhash("sh"))


@query(
    "q_dedup_embedding_cluster_rep",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
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
    SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS rep_id
    FROM reach GROUP BY src
    ORDER BY vec_id
    """,
)
def q_dedup_embedding_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative output for EMBEDDING near-dup — the
    third emitter of the cluster_rep family (ngram =
    oracle-checked, minhash = rows-only), and the only
    SQL-expressible SIMILARITY-graph closure: one (vec_id, rep_id)
    row per vector, rep = component min of the ≥τ cosine pair graph,
    singletons representing themselves.  Near-dup semantics differ
    from the pairwise q_dedup_embedding (min ≥τ NEIGHBOR) exactly
    when similarity chains: a~b~c with a≁c lands b and c on rep a
    here — transitive collapse is what a production dedup actually
    applies before keep-best selection (q_dedup_keep_best).

    Shape: pair scoring is the shared block-nested-loop GEMM
    (similarity.blocked_pair_sims — sub-threshold pairs never exist
    as rows), hook+pointer-jump components run on the PAIR graph,
    and the full per-vector mapping comes from one left join of the
    vector ids against the component labels.  The oracle is the
    recursive-CTE closure over the identical rounded-cosine edge
    set, so every representative is value-hash-checked.
    """
    from i3cols_spark.operators.graph import connected_components
    from i3cols_spark.operators.similarity import blocked_pair_sims

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    # Materialize the GEMM's pair output once: nodes (2 union
    # branches) and CC's edge checkpoint are separate jobs, so
    # without this the block GEMM re-executes 3x (r12 stage audit);
    # the pair list is id-pairs only — tiny relative to the vectors.
    pairs = (
        blocked_pair_sims(emb, threshold=0.35)
        .select("a_id", "b_id")
        .transform(materialize, lazy=True)
    )
    nodes = (
        pairs.select(F.col("a_id").alias("id"))
        .union(pairs.select(F.col("b_id").alias("id")))
        .distinct()
    )
    comp = connected_components(
        nodes, pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    )
    return (
        table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(comp, F.col("vec_id") == F.col("id"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("comp"), F.col("vec_id")).cast("bigint").alias("rep_id"),
        )
        .orderBy("vec_id")
    )


@query(
    "q_dedup_lsh_bucket_audit",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_transform(
                   range(0, greatest(len(toks) - 3, 0) + 1),
                   i -> array_to_string(toks[i+1:i+3], ' ')
               ) AS sh
        FROM t
    ),
    sigs AS (
        SELECT doc_id,
               {_MD5_SIG_SQL}
        FROM s
    ),
    keyed AS (
        {_md5_bands_sql("sigs")}
    ),
    occupancy AS (
        SELECT band, bucket, CAST(count(*) AS BIGINT) AS sz
        FROM keyed GROUP BY band, bucket
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM occupancy
    GROUP BY band ORDER BY band
    """,
)
def q_dedup_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy audit — the quantity that decides whether
    the MinHash dedup path survives 100 TB: per band (4 bands × 2
    rows of the oracle-checked md5 signature family), the bucket
    count, the LARGEST bucket, the singleton count and the total
    candidate-pair load Σ size·(size−1)/2 — exactly the number of
    pair verifications the bucket self-join will generate.  A skewed
    bucket (boilerplate flooding one signature) turns LSH quadratic;
    this audit is how a pipeline SEES that before paying it, and the
    number a production run alerts on.

    Everything derives from q_text_minhash_signature's construction,
    so occupancy, skew and pair load are value-hash-checked — the
    rows-only production path (q_dedup_near_minhash) gets its scale
    assumption audited by a fully checked twin.

    Shape: per-row signature (whole-stage codegen, no Python), a
    4-band explode (pairs-sized, bounded by 4×docs), one map-side-
    combined (band, bucket) groupBy, and a 4-row rollup.
    """
    from i3cols_spark.functions.text import shingles

    # r12 NEGATIVE RESULT (NEGATIVES.md N16), left as-is: the 4-branch
    # union is four 1-task scans at fixture scale (stage audit: 4.8 s
    # executor-run over 4 tasks), but BOTH rewrites tried against it
    # measured worse — spread()+union multiplied executor-run 8x
    # (38.8 s: shuffle-row deserialization per branch replaces the
    # pruned columnar scan), and spread()+single-pass-sigs+in-row
    # band explode 5x (25.2 s: the 8 HOF transforms lose the
    # per-branch projection CSE).  At production file counts the four
    # branch scans parallelize by file and stay columnar-pruned.
    docs = table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", shingles("text").alias("sh"))
    sigs = staged.select("doc_id", *md5_minhash("sh"))
    occupancy = _md5_band_keys(sigs).groupBy("band", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        occupancy.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
            .cast("bigint").alias("singletons"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("band")
    )


#: Shared CTE chain of the md5-family LSH twins: shingles → 8-perm
#: salted-md5 signatures (+ distinct hashed shingle sets for the
#: verify step) → 4 band keys → distinct banding-collision candidates
#: → verified pairs at exact Jaccard ≥ 0.5.  Consumed by
#: q_dedup_minhash_lsh_verified (emits the pairs) and
#: q_dedup_minhash_cluster_rep_verified (closes them into components).
_LSH_MD5_CTES = f"""
    t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_transform(
                   range(0, greatest(len(toks) - 3, 0) + 1),
                   i -> array_to_string(toks[i+1:i+3], ' ')
               ) AS sh
        FROM t
    ),
    hs AS (
        SELECT doc_id,
               list_distinct(list_transform(sh, x -> md5(x))) AS hsh,
               {_MD5_SIG_SQL}
        FROM s
    ),
    keyed AS (
        {_md5_bands_sql("hs", "doc_id, ")}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keyed a
        JOIN keyed b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    vpairs AS (
        SELECT c.doc_a, c.doc_b,
               round(CAST(len(list_intersect(ha.hsh, hb.hsh)) AS DOUBLE)
                     / len(list_distinct(list_concat(ha.hsh, hb.hsh))), 6)
                   AS jaccard
        FROM cand c
        JOIN hs ha ON ha.doc_id = c.doc_a
        JOIN hs hb ON hb.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(ha.hsh, hb.hsh)) AS DOUBLE)
              / len(list_distinct(list_concat(ha.hsh, hb.hsh))) >= 0.5
    )"""


@query(
    "q_dedup_minhash_lsh_verified",
    oracle=f"""
    WITH {_LSH_MD5_CTES}
    SELECT doc_a, doc_b, jaccard FROM vpairs
    """,
)
def q_dedup_minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pairs under a FULL value-hash
    oracle — the checked twin of the rows-only production path
    (q_dedup_near_minhash), completing its verification triangle
    (signature: q_text_minhash_signature; candidate-pair load:
    q_dedup_lsh_bucket_audit; THIS query: the whole pipeline —
    shingle → 8-perm md5 signature → 4 band keys → bucket join →
    exact-Jaccard verify ≥ 0.5 → (doc_a, doc_b, jaccard)).

    The cross-engine md5 family makes every stage SQL-expressible, so
    the emitted PAIR SET itself — which banding collisions produced,
    which candidates the verify step kept — is hash-checked against
    DuckDB running the identical construction.  The production path
    keeps the profiled xxhash64 fast path; this twin costs ~32× more
    hash work per shingle and exists to put the LSH semantics (not
    just its building blocks) under the oracle.

    Scale shape (same as production): per-row signature in whole-stage
    codegen, band explode bounded by 4×docs, bucket collect-expand
    (never a banded self-join → signature computed once), verify only
    the colliding candidates on distinct hashed-shingle sets.
    """
    from i3cols_spark.functions.text import shingles

    docs = spread(table(spark, sf_dir, "documents"), spark)
    staged = docs.select("doc_id", shingles("text").alias("sh"))
    hs = staged.select(
        "doc_id",
        F.array_distinct(F.transform("sh", lambda s: F.md5(s))).alias("hsh"),
        *md5_minhash("sh"),
    )
    cand = bucket_pairs(_md5_band_keys(hs, "doc_id"), "bucket")
    # (r13 measured negative, reverted, NEGATIVES.md N5 — the
    # q_dedup_simhash_verified verify-stream pinning tried here: a
    # pinned repartition of the doc-level (doc_id, hsh) side, shared
    # by ha/hb via ReuseExchange, to spread the 6-task AQE-coalesced
    # verify tail seen at the 10× probe.  d10: 10.4 → 9.95 s (marginal —
    # the dominant 138 s stage already runs 128-wide); sf0.1
    # interleaved: 1.21/1.17 → 1.30/1.35 s, a real regression: shuffling
    # the hashed-shingle ARRAYS costs more than the small verify tail it
    # spreads — the same verdict as r12's hs disk-checkpoint negative.
    # Unlike simhash_verified, this verify's per-row work rides arrays
    # the pinning must move.)
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hsh").alias("ha"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hsh").alias("hb"))
    jac = F.size(F.array_intersect("ha", "hb")) / F.size(F.array_union("ha", "hb"))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "q_dedup_minhash_cluster_rep_verified",
    oracle=f"""
    WITH RECURSIVE {_LSH_MD5_CTES},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION ALL
        SELECT doc_b, doc_a FROM vpairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS rep_id
    FROM reach GROUP BY src
    ORDER BY doc_id
    """,
)
def q_dedup_minhash_cluster_rep_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative output for the md5-family MinHash LSH
    pipeline — LSH → transitive closure → one (doc_id, rep_id) row
    per document, ALL under a full value-hash oracle (the recursive-
    CTE closure over the identical verified pair set).  This makes
    every production dedup stage — banding, candidate generation,
    exact-Jaccard verify, connected components, keep-min-id
    representative selection — oracle-checked END TO END for the
    minhash family, the strongest form of the evidence the rows-only
    xxhash64 twins (q_dedup_near_minhash, q_dedup_minhash_cluster_rep)
    rest on.

    Shape: the pair engine is the shared md5 LSH plan
    (q_dedup_minhash_lsh_verified); components run hook+pointer-jump
    on the PAIR graph only (nodes that collide nowhere never enter
    the iteration); the per-document mapping is one left join of the
    doc ids against the component labels, singletons representing
    themselves.
    """
    from i3cols_spark.operators.graph import connected_components

    # Materialize the verified pair stream once: the md5 LSH+verify
    # engine is the query's entire cost, and nodes / CC-edge
    # checkpoint / member join are separate jobs that would each
    # re-run it (ReuseExchange only shares within one plan).
    pairs = (
        q_dedup_minhash_lsh_verified(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(materialize, lazy=True)
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("id"))
        .union(pairs.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    comp = connected_components(
        nodes, pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).cast("bigint").alias("rep_id"),
        )
        .orderBy("doc_id")
    )


#: md5-family SimHash twin — shared SQL fragments.  One Python
#: generator feeds BOTH the oracle CTE chain and (structurally) the
#: Spark expression tree, so the 64 vote accumulators, the nibble
#: reassembly and the hamming verify are the same construction by
#: code generation, not by careful parallel maintenance.
_SIMHASH_NIB_SQL = ",\n               ".join(
    f"strpos('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1 AS n{i}"
    for i in range(16)
)
_SIMHASH_VOTES_SQL = ",\n               ".join(
    f"CAST(sum(cnt * (2 * ((n{b // 4} >> {b % 4}) & 1) - 1)) AS BIGINT)"
    f" AS v{b}"
    for b in range(64)
)
_SIMHASH_OUTN_SQL = ",\n               ".join(
    "("
    + " + ".join(
        f"{1 << j} * (CASE WHEN v{4 * i + j} >= 0 THEN 1 ELSE 0 END)"
        for j in range(4)
    )
    + f") AS m{i}"
    for i in range(16)
)
_SIMHASH_SIG_SQL = " || ".join(
    f"substr('0123456789abcdef', m{i} + 1, 1)" for i in range(16)
)
_SIMHASH_KEYED_SQL = " UNION ALL ".join(
    f"SELECT rep, CAST({k} AS BIGINT) AS band,"
    f" substr(simhash, {1 + 4 * k}, 4) AS bucket FROM sig"
    for k in range(4)
)
_SIMHASH_HAM_SQL = " + ".join(
    f"bit_count(xor(sa.m{i}, sb.m{i}))" for i in range(16)
)


@query(
    "q_dedup_simhash_verified",
    oracle=f"""
    WITH d AS (
      SELECT md5(lower(trim(text))) AS th, min(doc_id) AS rep,
             min(lower(trim(text))) AS norm
      FROM documents GROUP BY md5(lower(trim(text)))
    ), tk AS (
      SELECT th, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT th, unnest(string_split_regex(norm, '\\s+')) AS tok
            FROM d)
      GROUP BY th, tok
    ), nb AS (
      SELECT th, cnt,
               {_SIMHASH_NIB_SQL}
      FROM tk
    ), v AS (
      SELECT th,
               {_SIMHASH_VOTES_SQL}
      FROM nb GROUP BY th
    ), sk AS (
      SELECT th,
               {_SIMHASH_OUTN_SQL}
      FROM v
    ), sig AS (
      SELECT d.rep, sk.*, {_SIMHASH_SIG_SQL} AS simhash
      FROM sk JOIN d USING (th)
    ), keyed AS ( {_SIMHASH_KEYED_SQL} ),
    cand AS (
      SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b
      FROM keyed a JOIN keyed b
        ON a.band = b.band AND a.bucket = b.bucket AND a.rep < b.rep
    )
    SELECT c.doc_a, c.doc_b,
           CAST({_SIMHASH_HAM_SQL} AS BIGINT) AS hamming
    FROM cand c
    JOIN sig sa ON sa.rep = c.doc_a
    JOIN sig sb ON sb.rep = c.doc_b
    WHERE ({_SIMHASH_HAM_SQL}) <= 3
    """,
)
def q_dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SimHash near-dup pairs under a FULL value-hash
    oracle — the checked twin of the rows-only production sketch
    (q_dedup_simhash), completing the verified-twin triangle for the
    LAST rows-only dedup family (MinHash-LSH got its md5 twin in r8;
    pHash is banded under the oracle via q_dedup_phash64_hamming).
    Pipeline: exact-dup collapse → per-token md5-derived 64-bit hash
    (first 16 hex nibbles) → multiset bit voting → 64-bit signature
    reassembled as a hex string → 4×16-bit band keys → bucket
    collision candidates → exact hamming verify ≤ 3 → (doc_a, doc_b,
    hamming) at one-representative-per-distinct-text level.

    The cross-engine md5 family makes every stage SQL-expressible, so
    the emitted PAIR SET itself — which band collisions happened and
    which survived the hamming verify — is hash-checked against
    DuckDB running the identical construction (both sides are CODE-
    GENERATED from the same Python loops, not hand-mirrored).  The
    production path keeps the xxhash64 sketch; this twin pins the
    SEMANTICS: pigeonhole over 4 bands of 16 bits guarantees every
    pair at hamming ≤ 3 collides in at least one band, so the output
    is the complete hamming-≤3 pair set, not a sample.

    Scale shape (same as production q_dedup_simhash): collapse-first
    so votes are computed once per DISTINCT text; token-frequency
    pre-aggregation so the 64 vote accumulators stream over distinct
    (text, token) rows; band keys explode 4×reps (never a 64-bit
    all-pairs join); the verify joins only colliding candidates on
    16 nibble ints (64 bits of state per side).
    """
    hexd = "0123456789abcdef"
    docs = spread(table(spark, sf_dir, "documents"), spark)
    # d feeds BOTH the vote chain and the (th, rep) signature join;
    # its collapse exchange is shared by AQE stage reuse.  A lazy
    # checkpoint here was tried (r12) and REVERTED: planning the
    # consumers over the LogicalRDD leaf blew up Catalyst constraint
    # propagation on the driver (OOM in QueryPlanConstraints under a
    # vanilla 1 GiB session — the driver-sim sweep crashed at this
    # query), and the no-checkpoint form measured FASTER anyway once
    # the band union below became a single explode (NEGATIVES.md N10).
    d = docs.groupBy(F.md5(normalize("text")).alias("th")).agg(
        F.min("doc_id").alias("rep"),
        F.min(normalize("text")).alias("norm"),
    )
    # Re-spread after the collapse: the collapse output is tiny in
    # bytes, so AQE coalesces it to ONE partition — and the heavy
    # downstream chain (token explode → per-token md5 → 64 vote
    # accumulators) inherited that single task (r12 stage audit: two
    # serialized 1-task ~2.3 s stages).  The repartition shuffles only
    # |distinct texts| collapse-bounded rows (each carries the full
    # normalized text, so bounded in count, not tiny in bytes); at
    # production byte sizes AQE never
    # coalesces to 1 and the extra exchange is noise.
    dsp = d.select("th", "norm").repartition(spark.sparkContext.defaultParallelism)
    # Votes fold per token INSTANCE straight into groupBy(th): the old
    # (th, tok, cnt) pre-aggregate existed only to dedupe md5 calls
    # for repeated tokens, but its reduce side carried the whole
    # md5 → conv-nibble → 64-sum chain on the coalesced single task.
    # Σ_tok cnt·(2·bit−1) ≡ Σ_instances (2·bit−1) — identical integer
    # votes, one shuffle fewer, and every expensive expression now
    # runs on the 32-task map side with map-side partial aggregation.
    # Two 8-hex-char conv()s per instance instead of sixteen 1-char
    # ones (r12 stage audit: this 32-task vote stage was 13.2 s of
    # executor-run, dominated by per-instance expression cost).  Hex
    # char j of the digest occupies bits (7−j)·4..(7−j)·4+3 of the
    # first 32-bit word (chars 0–7) resp. (15−j)·4.. of the second
    # (chars 8–15), so bit k of nibble j is one shiftright away —
    # identical integer votes, 8× fewer substring/conv per token.
    # (r13 measured negatives, both reverted — NEGATIVES.md N3, N4:
    #  1. dedup md5 calls per (text, token) IN-ROW (array_distinct +
    #     per-distinct frequency via transform/filter, no new
    #     exchange, votes as Σ cnt·(2b−1)): 4.08 s vs 3.57 s
    #     interleaved min-of-3 — the interpreted HOF counting pass
    #     costs more than the 2.33× md5+conv savings;
    #  2. votes as v_b = 2·S_b − N (bare-bit sums, ±1 mapping moved to
    #     a post-aggregation projection): 5.22/5.24 s vs 4.11/3.81 s —
    #     the extra 64-expression projection pushes the final stage
    #     past the whole-stage-codegen budget (the r12 unrolled-dot()
    #     disease).
    # With the r12 groupBy (th, tok, cnt) pre-aggregate also
    # adjudicated negative, per-instance folding below is the measured
    # optimum; the ~3.3-3.6 s clean cost is the oracle-pinned
    # md5-vote floor.)
    h = F.md5("tok")
    nb = dsp.select(
        "th", F.explode(F.split("norm", r"\s+")).alias("tok")
    ).select(
        "th",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("w0"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("w1"),
    )

    def _vote(b: int):
        j, k = b // 4, b % 4
        if j < 8:
            word, shift = F.col("w0"), (7 - j) * 4 + k
        else:
            word, shift = F.col("w1"), (15 - j) * 4 + k
        return 2 * F.shiftright(word, shift).bitwiseAND(F.lit(1)) - 1

    v = nb.groupBy("th").agg(
        *[F.sum(_vote(b)).cast("long").alias(f"v{b}") for b in range(64)]
    )
    sk = v.select(
        "th",
        *[
            sum(
                [
                    F.when(F.col(f"v{4 * i + j}") >= 0, F.lit(1 << j)).otherwise(
                        F.lit(0)
                    )
                    for j in range(4)
                ],
                F.lit(0),
            )
            .cast("int")
            .alias(f"m{i}")
            for i in range(16)
        ],
    )
    sig = sk.join(d.select("th", "rep"), "th").select(
        "rep",
        *[f"m{i}" for i in range(16)],
        F.concat(
            *[F.lit(hexd).substr(F.col(f"m{i}") + 1, F.lit(1)) for i in range(16)]
        ).alias("simhash"),
    )
    # Band keys as ONE in-row explode (the minhash-family band_entries
    # shape), not a 4-branch unionAll: the union form re-executed the
    # whole token-vote subtree per branch, and with sa/sb below the
    # signature table had SIX consumers in one plan; the explode form
    # leaves three (banding, verify-a, verify-b), all hanging off
    # exchanges AQE stage reuse shares (values unchanged: same (rep,
    # band, bucket) rows, same verify joins).  A lazy checkpoint
    # of sig was tried (r12) and REVERTED — Catalyst
    # constraint-propagation OOM on a vanilla 1 GiB driver (see the
    # collapse note above), and no faster than stage reuse.
    keyed = sig.select(
        "rep",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("band"),
                        F.substring("simhash", 1 + 4 * k, 4).alias("bucket"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("rep", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
    # Re-spread around the quadratic pair expansion (r13 core-scaling
    # probe at 10× distinct data): AQE sizes post-shuffle partitions
    # by BYTES, but a bucket row explodes into C(|ids|, 2) pairs and a
    # pair row pays two broadcast probes + the 16-word hamming — so
    # the bytes-based coalesce crammed the explode into ONE task
    # (21 s) and the verify/save stage into 10 tasks (307 s of 400 s
    # executor-run; 8→32 cores sped the query 1.04×).  Pinning the
    # partition count via repartition (AQE never coalesces a
    # user-specified repartition) spreads both stages; the shuffled
    # rows are bucket id-lists resp. 16-byte pairs — trivial bytes at
    # any scale next to the work they fan out.  Values unchanged.
    p = spark.sparkContext.defaultParallelism
    buckets = (
        keyed.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("rep")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .repartition(p)
    )
    cand = (
        buckets.select(F.explode(_pair_structs(F.col("ids"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .dropDuplicates()
        .repartition(p)
    )
    # Pin the verify STREAM width too (r13 probe follow-up): the
    # planner broadcasts whichever verify side estimates smaller — at
    # the 10× probe it broadcast cand and streamed sa, so the whole
    # probe/emit/hamming chain ran in sig's AQE-coalesced stage (10
    # tasks, 304 s of 439 s executor-run) and the cand respread above
    # never reached the hot stage.  A pinned repartition of the sig
    # lineage (narrow rows: id + 16 ints) keeps the verify stage wide
    # whichever side streams; ReuseExchange shares the one sig
    # shuffle between sa and sb.
    sigp = sig.repartition(p)
    sa = sigp.select(
        F.col("rep").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(16)]
    )
    sb = sigp.select(
        F.col("rep").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(16)]
    )
    ham = sum(
        [
            F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
            for i in range(16)
        ],
        F.lit(0),
    ).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


#: Rep-level variant of the shared md5 LSH chain: exact duplicates
#: collapse to min-doc_id representatives BEFORE any signature work,
#: so the eval measures NEAR-dup detection, not exact-dup mass.
_LSH_MD5_CTES_REP = _LSH_MD5_CTES.replace(
    """t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),""",
    """t AS (
        SELECT min(doc_id) AS doc_id,
               string_split_regex(min(lower(trim(text))), '\\s+') AS toks
        FROM documents GROUP BY md5(lower(trim(text)))
    ),""",
)
assert _LSH_MD5_CTES_REP != _LSH_MD5_CTES


def _lsh_md5_rep_parts(spark: SparkSession, sf_dir: str):
    """Collapsed (rep-level) md5-family LSH build shared by the audit
    ops: exact duplicates collapse to min-doc_id representatives, then
    per-rep distinct hashed-shingle sets + 8 salted-min signatures
    (``hs``) and the distinct banding-collision candidate pairs
    (``cand``) — the Spark twin of the ``_LSH_MD5_CTES_REP`` chain.
    Consumed by q_dedup_lsh_eval and q_text_minhash_estimate_error;
    q_dedup_minhash_lsh_verified keeps its own DOC-level build (no
    collapse) because its contract checks the production granularity.
    """
    from i3cols_spark.functions.text import shingles

    docs = spread(table(spark, sf_dir, "documents"), spark)
    staged = (
        docs.groupBy(F.md5(normalize("text")).alias("th"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min(normalize("text")).alias("norm"),
        )
        # Re-spread after the collapse (the q_dedup_simhash_verified
        # pattern): the collapse output is tiny in BYTES, so AQE
        # coalesces it to one partition — and the expensive per-rep
        # work downstream (shingling + 8 salted-min md5 transforms)
        # inherited that single task (r12 stage audit: serialized
        # ~2.4 s 1-task stages in every consumer of this helper).  The
        # repartition shuffles only |distinct texts| collapse-bounded
        # rows (each carries the full normalized text — bounded in
        # count, not tiny in bytes); at production byte sizes AQE never coalesces to 1 and the extra
        # exchange is noise.
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", shingles("norm").alias("sh"))
    )
    hs = staged.select(
        "doc_id",
        F.array_distinct(F.transform("sh", lambda s: F.md5(s))).alias("hsh"),
        *md5_minhash("sh"),
    )
    # One lazy materialization of the signature table: its consumers
    # (4 banding branches + the truth/estimator sides that join on
    # doc_id) all sit behind BROADCAST joins or disjoint projections,
    # so no exchange tops the expensive shingle→salted-md5 lineage for
    # ReuseExchange to share — each consumer re-ran it (r12 stage
    # audit).  |distinct texts| rows of one hash set + 8 digest
    # strings: collapse-bounded, never corpus-sized.
    hs = materialize(hs, lazy=True)
    return hs, bucket_pairs(_md5_band_keys(hs, "doc_id"), "bucket")


@query(
    "q_dedup_lsh_eval",
    oracle=f"""
    WITH {_LSH_MD5_CTES_REP},
    sh_rows AS (
      SELECT doc_id, len(hsh) AS n, unnest(hsh) AS h FROM hs
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh_rows a JOIN sh_rows b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(count(*) AS DOUBLE)
             / (min(a.n) + min(b.n) - count(*)) >= 0.5
    ),
    hits AS (
      SELECT t.doc_a, t.doc_b
      FROM truth t JOIN cand c
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    ),
    counts AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits
    )
    SELECT n_truth, n_candidates, n_hits,
           floor(n_hits * 1.0 / n_candidates * 1000000 + 0.5)
               / 1000000.0 AS precision_,
           floor(n_hits * 1.0 / n_truth * 1000000 + 0.5)
               / 1000000.0 AS recall,
           floor(2.0 * n_hits / (n_candidates + n_truth) * 1000000 + 0.5)
               / 1000000.0 AS f1
    FROM counts
    """,
)
def q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the near-dup detector instead of trusting its theory:
    precision/recall/F1 of the MinHash-LSH banding CANDIDATES (the
    q_dedup_minhash_lsh_verified construction, before its verify
    step) against exact-Jaccard ground truth (every pair of documents
    with shingle-set Jaccard ≥ 0.5, computed completely via the
    inverted-index join — a qualifying pair must share a shingle, so
    the blocking loses nothing).  Recall here is the empirically
    REALIZED banding recall the (8 perms, 4 bands × 2 rows) S-curve
    only promises in expectation; precision quantifies the verify
    step's workload (candidates that exact verification will throw
    away).  Together with q_dedup_lsh_bucket_audit (candidate-pair
    LOAD) this makes the LSH cost/quality trade-off a measured,
    oracle-checked quantity — the audit a 100 TB dedup run does on a
    sample before committing the full pass.

    All three counts are exact integers (the same md5 family on both
    engines), metrics are integer ratios → HALF_UP 6 dp.

    Exact duplicates collapse to min-doc_id representatives BEFORE
    either side (identical texts have identical signatures AND
    identical shingle sets, so their pairs are guaranteed hits that
    would inflate both precision and recall with degenerate mass —
    and they are q_dedup_exact's jurisdiction anyway).  The collapse
    also removes the Θ(dup-density²) exposure: the x10 replication
    probe is flat post-collapse, and the remaining quadratic is REAL
    near-dup density — the documented audit-at-sample-scale ceiling
    of the exact path, while the LSH side keeps the linear production
    shape.
    """
    hs, cand = _lsh_md5_rep_parts(spark, sf_dir)
    sh_rows = hs.select(
        "doc_id", F.size("hsh").alias("n"), F.explode("hsh").alias("h")
    )
    a, b2 = sh_rows.alias("a"), sh_rows.alias("b")
    truth = (
        a.join(
            b2,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
        .filter(
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common"))
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    # truth and cand each feed a bare count AND the hits join, both
    # via broadcast — no shared exchange, so the inverted-index truth
    # join resp. the banding pipeline executed twice (r12 stage
    # audit).  Both are pair-id tables (two longs per row).
    truth = materialize(truth, lazy=True)
    cand = materialize(cand, lazy=True)
    hits = truth.join(cand, ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    from i3cols_spark.functions.rounding import round_half_up

    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            round_half_up(
                F.col("n_hits") * 1.0 / F.col("n_candidates"), 6
            ).alias("precision_"),
            round_half_up(F.col("n_hits") * 1.0 / F.col("n_truth"), 6).alias(
                "recall"
            ),
            round_half_up(
                F.lit(2.0)
                * F.col("n_hits")
                / (F.col("n_candidates") + F.col("n_truth")),
                6,
            ).alias("f1"),
        )
    )


#: Rep-level exact-Jaccard truth + per-group split flags, shared by
#: the leakage audit.  Thresholds mirror q_split_assign
#: (stats._TEST_HI / _VAL_HI); eval = val ∪ test.
_SPLIT_CASE_SQL = """CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0800'
             THEN 'test'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1000'
             THEN 'val' ELSE 'train' END"""


@query(
    "q_quality_split_leakage",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS norm,
             {_SPLIT_CASE_SQL} AS split
      FROM documents
    ), g AS (
      SELECT md5(norm) AS th, min(doc_id) AS rep, min(norm) AS norm,
             CAST(count(*) AS BIGINT) AS n_members,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train,
             max(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS has_eval
      FROM d GROUP BY md5(norm)
    ), hs AS (
      SELECT rep, has_train, has_eval,
             list_distinct(list_transform(
                 list_transform(
                     range(0, greatest(len(string_split_regex(norm, '\\s+'))
                                       - 3, 0) + 1),
                     i -> array_to_string(
                         string_split_regex(norm, '\\s+')[i+1:i+3], ' ')),
                 x -> md5(x))) AS hsh
      FROM g
    ), sh_rows AS (
      SELECT rep, has_train, has_eval, len(hsh) AS n, unnest(hsh) AS h
      FROM hs
    ), truth AS (
      SELECT a.rep AS rep_a, b.rep AS rep_b,
             max(a.has_train) AS a_tr, max(a.has_eval) AS a_ev,
             max(b.has_train) AS b_tr, max(b.has_eval) AS b_ev
      FROM sh_rows a JOIN sh_rows b
        ON a.h = b.h AND a.rep < b.rep
      GROUP BY a.rep, b.rep
      HAVING CAST(count(*) AS DOUBLE)
             / (min(a.n) + min(b.n) - count(*)) >= 0.5
    ), counts AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_groups,
        (SELECT CAST(count(*) AS BIGINT) FROM g
          WHERE n_members > 1 AND has_train = 1 AND has_eval = 1)
            AS n_exact_leak_groups,
        (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_neardup_pairs,
        (SELECT CAST(count(*) AS BIGINT) FROM truth
          WHERE (a_tr = 1 OR b_tr = 1) AND (a_ev = 1 OR b_ev = 1))
            AS n_neardup_leak_pairs
    )
    SELECT n_docs, n_groups, n_exact_leak_groups,
           n_neardup_pairs, n_neardup_leak_pairs,
           floor(n_exact_leak_groups * 1.0 / n_groups * 1000000 + 0.5)
               / 1000000.0 AS exact_leak_rate,
           CASE WHEN n_neardup_pairs > 0
                THEN floor(n_neardup_leak_pairs * 1.0 / n_neardup_pairs
                           * 1000000 + 0.5) / 1000000.0
                ELSE 0.0 END AS neardup_leak_rate
    FROM counts
    """,
)
def q_quality_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE audit of the engine's own deterministic
    split (the q_split_assign md5-threshold scheme, eval = val ∪
    test): (1) exact-duplicate groups whose members straddle the
    train/eval boundary — the worst leakage, found LINEARLY from the
    per-group split flags, no pair join; (2) near-duplicate pairs
    (rep-level exact shingle-Jaccard ≥ 0.5, the q_dedup_lsh_eval
    ground-truth machinery) where one side's group touches train and
    the other's touches eval.  This is the Lee/Dodge-style
    decontamination check a training pipeline runs BEFORE trusting
    held-out numbers: q_text_contamination screens against an
    EXTERNAL benchmark, THIS audits the split's INTERNAL boundary.

    All counts are exact integers (md5 family in both engines); rates
    are integer ratios → HALF_UP 6 dp; a corpus with no near-dup
    pairs reports rate 0 by convention (guarded in both engines).

    Scale: the exact-leak side is one hash groupBy with two
    max-accumulators; the near-dup side is the collapsed rep-level
    inverted-index join — audit-at-sample-scale (q_dedup_lsh_eval's
    documented ceiling) with the LSH path as the linear production
    screen.
    """
    from i3cols_spark.functions.text import shingles
    from i3cols_spark.operators.stats import _TEST_HI, _VAL_HI

    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(bucket < _TEST_HI, "test")
        .when(bucket < _VAL_HI, "val")
        .otherwise("train")
    )
    d = spread(table(spark, sf_dir, "documents"), spark).select(
        "doc_id", normalize("text").alias("norm"), split.alias("split")
    )
    g = d.groupBy(F.md5("norm").alias("th")).agg(
        F.min("doc_id").alias("rep"),
        F.min("norm").alias("norm"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "has_train"
        ),
        F.max(F.when(F.col("split") != "train", 1).otherwise(0)).alias(
            "has_eval"
        ),
    )
    # Re-spread the near-dup branch after the collapse (the
    # q_dedup_simhash_verified pattern): the group table is tiny in
    # bytes, so AQE coalesces it to one partition and the shingling +
    # md5 transforms below serialized on a single task (r12 stage
    # audit: a 2.4 s 1-task stage).  grp_counts keeps consuming `g`
    # directly — only the expensive branch pays the narrow reshuffle.
    hs = (
        g.select("rep", "has_train", "has_eval", "norm")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "rep",
            "has_train",
            "has_eval",
            F.array_distinct(
                F.transform(shingles("norm"), lambda s: F.md5(s))
            ).alias("hsh"),
        )
    )
    sh_rows = hs.select(
        "rep",
        "has_train",
        "has_eval",
        F.size("hsh").alias("n"),
        F.explode("hsh").alias("h"),
    )
    a, b = sh_rows.alias("a"), sh_rows.alias("b")
    truth = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.rep") < F.col("b.rep")),
        )
        .groupBy(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("a.n").alias("n_a"),
            F.first("b.n").alias("n_b"),
            F.max("a.has_train").alias("a_tr"),
            F.max("a.has_eval").alias("a_ev"),
            F.max("b.has_train").alias("b_tr"),
            F.max("b.has_eval").alias("b_ev"),
        )
        .filter(
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common"))
            >= 0.5
        )
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    grp_counts = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(
            F.when(
                (F.col("n_members") > 1)
                & (F.col("has_train") == 1)
                & (F.col("has_eval") == 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_exact_leak_groups"),
    )
    pair_counts = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"),
        F.sum(
            F.when(
                ((F.col("a_tr") == 1) | (F.col("b_tr") == 1))
                & ((F.col("a_ev") == 1) | (F.col("b_ev") == 1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_neardup_leak_pairs"),
    )
    from i3cols_spark.functions.rounding import round_half_up

    return (
        n_docs.crossJoin(F.broadcast(grp_counts))
        .crossJoin(F.broadcast(pair_counts))
        .select(
            "n_docs",
            "n_groups",
            "n_exact_leak_groups",
            "n_neardup_pairs",
            "n_neardup_leak_pairs",
            round_half_up(
                F.col("n_exact_leak_groups") * 1.0 / F.col("n_groups"), 6
            ).alias("exact_leak_rate"),
            F.when(
                F.col("n_neardup_pairs") > 0,
                round_half_up(
                    F.col("n_neardup_leak_pairs")
                    * 1.0
                    / F.col("n_neardup_pairs"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("neardup_leak_rate"),
        )
    )


@query(
    "q_text_minhash_estimate_error",
    oracle=f"""
    WITH {_LSH_MD5_CTES_REP},
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST({" + ".join(
                 f"(CASE WHEN ha.sig{j} = hb.sig{j} THEN 1 ELSE 0 END)"
                 for j in range(SIG_PERMS)
             )} AS BIGINT) AS est_slots,
             CAST(len(list_intersect(ha.hsh, hb.hsh)) AS BIGINT) AS common,
             CAST(len(list_distinct(list_concat(ha.hsh, hb.hsh)))
                  AS BIGINT) AS uni
      FROM cand c
      JOIN hs ha ON ha.doc_id = c.doc_a
      JOIN hs hb ON hb.doc_id = c.doc_b
    ), micro AS (
      SELECT est_slots,
             CAST(floor(common * 1000000.0 / uni + 0.5) AS BIGINT) AS jac_u,
             CAST(floor(abs(est_slots * 125000.0
                            - common * 1000000.0 / uni) + 0.5)
                  AS BIGINT) AS err_u
      FROM pairs
    )
    SELECT est_slots, est_slots / 8.0 AS est_jaccard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(sum(jac_u) / (count(*) * 1000000.0) * 1000000 + 0.5)
               / 1000000.0 AS avg_exact_jaccard,
           floor(sum(err_u) / (count(*) * 1000000.0) * 1000000 + 0.5)
               / 1000000.0 AS mae
    FROM micro
    GROUP BY est_slots
    ORDER BY est_slots
    """,
)
def q_text_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration: over the banding candidate
    pairs (rep-level, the q_dedup_lsh_eval collapse), compare the
    8-permutation signature estimate (matching slots / 8) against the
    exact shingle-set Jaccard, grouped by estimate value — the third
    face of the LSH audit triangle (q_dedup_lsh_bucket_audit =
    candidate LOAD, q_dedup_lsh_eval = banding RECALL/precision,
    THIS = signature ACCURACY).  E[matching/8] equals true Jaccard,
    but 8 permutations quantize to eighths with ±1/√8 noise — this op
    MEASURES the realized bias/error on exactly the sample the verify
    step sees (banding-biased toward high similarity, which is the
    honest population: those are the pairs whose misestimate costs
    verify work or drops dups).

    Exactness: slot matches and shingle intersections are exact
    integers (md5 family); per-pair Jaccard and absolute error are
    micro-int-quantized before group means (the q_ml_eval_ndcg
    discipline) → HALF_UP 6 dp.  Scale: everything after the
    collapsed signature build is candidate-pair-sized.
    """
    hs, cand = _lsh_md5_rep_parts(spark, sf_dir)
    ha = hs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hsh").alias("ha"),
        *[F.col(f"sig{j}").alias(f"a{j}") for j in range(SIG_PERMS)],
    )
    hb = hs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hsh").alias("hb"),
        *[F.col(f"sig{j}").alias(f"b{j}") for j in range(SIG_PERMS)],
    )
    est_slots = sum(
        [
            F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
            for j in range(SIG_PERMS)
        ],
        F.lit(0),
    ).cast("long")
    common = F.size(F.array_intersect("ha", "hb")).cast("long")
    uni = F.size(F.array_union("ha", "hb")).cast("long")
    pairs = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            est_slots.alias("est_slots"),
            common.alias("common"),
            uni.alias("uni"),
        )
    )
    micro = pairs.select(
        "est_slots",
        F.floor(F.col("common") * F.lit(1000000.0) / F.col("uni") + F.lit(0.5))
        .cast("long")
        .alias("jac_u"),
        F.floor(
            F.abs(
                F.col("est_slots") * F.lit(125000.0)
                - F.col("common") * F.lit(1000000.0) / F.col("uni")
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("err_u"),
    )
    from i3cols_spark.functions.rounding import round_half_up

    return (
        micro.groupBy("est_slots")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            round_half_up(
                F.sum("jac_u") / (F.count(F.lit(1)) * F.lit(1000000.0)), 6
            ).alias("avg_exact_jaccard"),
            round_half_up(
                F.sum("err_u") / (F.count(F.lit(1)) * F.lit(1000000.0)), 6
            ).alias("mae"),
        )
        .select(
            "est_slots",
            (F.col("est_slots") / F.lit(8.0)).alias("est_jaccard"),
            "n_pairs",
            "avg_exact_jaccard",
            "mae",
        )
        .orderBy("est_slots")
    )


@query(
    "q_quality_dedup_by_source",
    oracle=f"""
    WITH RECURSIVE {_NGRAM_REACH_CTES},
    rep AS (
        SELECT src AS doc_id, min(dst) AS rep_id FROM reach GROUP BY src
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT r.rep_id) AS BIGINT) AS n_clusters_touched,
           CAST(sum(CASE WHEN d.doc_id = r.rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           floor((count(*) - sum(CASE WHEN d.doc_id = r.rep_id
                                      THEN 1 ELSE 0 END))
                 * 1.0 / count(*) * 1000000 + 0.5) / 1000000.0 AS drop_rate
    FROM documents d JOIN rep r ON r.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def q_quality_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-SOURCE dedup retention readout — the table a curation
    run publishes to answer "which feeds are mostly duplicates?":
    per document source, how many docs it contributed, how many
    near-dup clusters those docs touch, how many rows survive the
    keep-cluster-representative policy, and the resulting drop rate.
    q_dedup_text_report aggregates the same clustering by CLUSTER
    SIZE; this slices it by the provenance dimension a data-sourcing
    decision actually acts on.

    Composition: two cheap aggregations over the linear
    (doc_id, rep_id) mapping of q_dedup_ngram_cluster_rep joined to
    the documents' source column — rows ∝ |docs|, then |sources|.
    The oracle rebuilds the identical clusters via the recursive-CTE
    transitive closure (the cluster_rep oracle) and re-slices.

    Cross-engine exactness: counts are exact BIGINTs; drop_rate is
    one integer ratio → HALF_UP 6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up

    rep = q_dedup_ngram_cluster_rep(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(rep, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("rep_id").cast("long").alias("n_clusters_touched"),
            F.sum(F.when(F.col("doc_id") == F.col("rep_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_clusters_touched",
            "n_kept",
            round_half_up(
                (F.col("n_docs") - F.col("n_kept")) * 1.0 / F.col("n_docs"), 6
            ).alias("drop_rate"),
        )
        .orderBy("source")
    )
