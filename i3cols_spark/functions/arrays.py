"""Array and pair-expansion helpers shared across operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pair_structs(ids: Column, a_name: str = "doc_a", b_name: str = "doc_b") -> Column:
    """All ordered pairs (a<b by position) of a sorted id array, as an
    array of (a_name, b_name) structs — in-row pair expansion for small
    groups/buckets, avoiding a self-join.  Pass a plain column
    reference (an expression argument would be re-evaluated per
    element by Catalyst)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, 1_000_000),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


def bucket_pairs(keyed: DataFrame, key: str) -> DataFrame:
    """Distinct candidate pairs ``(doc_a < doc_b)`` of the ``doc_id``s
    that share a ``(band, key)`` bucket — the LSH banding step.
    Buckets collect their sorted ids and expand same-bucket pairs
    in-row: a banded self-join would re-run the signature lineage per
    join side, while this form shuffles only (band, key, doc_id) rows
    and computes the signature once.  Bucket width is bounded by the
    collision rate, so the in-row expansion stays small; a pair
    colliding in several bands is emitted once."""
    return (
        keyed.groupBy("band", key)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs(F.col("ids"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .dropDuplicates()
    )


def member_pairs(
    rep_pairs: DataFrame,
    grp: DataFrame,
    reps: tuple[str, str] = ("rep_a", "rep_b"),
    out: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Expand representative pairs to member pairs across their groups.

    ``grp`` holds one row per collapsed group (``rep``, sorted member
    ``ids``); each ``rep_pairs`` row names two reps in ``reps`` and is
    emitted once per (member_a, member_b) combination as ``out`` with
    a < b, every other column carried through unchanged (a rep-pair
    score holds for every member combination because group members are
    identical).  Intra-group pairs are the caller's: their score and
    filter differ per family.  Pure output materialisation."""
    ra, rb = reps
    carry = [c for c in rep_pairs.columns if c not in reps]
    mem = grp.select("rep", "ids")
    return (
        rep_pairs.join(mem.select(F.col("rep").alias(ra), F.col("ids").alias("ids_a")), ra)
        .join(mem.select(F.col("rep").alias(rb), F.col("ids").alias("ids_b")), rb)
        .select(F.explode("ids_a").alias("ia"), "ids_b", *carry)
        .select("ia", F.explode("ids_b").alias("ib"), *carry)
        .select(
            F.least("ia", "ib").alias(out[0]),
            F.greatest("ia", "ib").alias(out[1]),
            *carry,
        )
    )
