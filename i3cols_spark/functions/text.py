"""Text-analysis column expressions: tokenization, bigrams, shingling,
the md5 MinHash signature, SimHash, fingerprinting — the building
blocks for dedup and text ops.

All pure JVM-side expressions (split / transform / aggregate / md5 /
xxhash64); nothing here crosses the Python boundary, so the hot path
of a 100 TB dedup run stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Normalization shared by every dedup/text op: trim + lowercase.
def normalize(text: Column | str) -> Column:
    return F.lower(F.trim(text))


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalize(text), r"\s+")


def bigrams(text: Column | str) -> Column:
    """Adjacent token pairs as array<struct<w1, w2>> — empty for
    documents of fewer than two tokens.

    The token array is bound as a lambda VARIABLE (the
    ``shingle_hashes`` trick): referencing the split() expression from
    inside the transform lambda makes Catalyst inline and re-run
    tokenization for EVERY element_at — O(n²) per document; measured
    5.7 s → 0.6 s warm at the sf0.1 bench for q_text_bigram_lm.
    """

    def build(tk: Column) -> Column:
        return F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - 2),
                lambda i: F.struct(
                    F.element_at(tk, i + 1).alias("w1"),
                    F.element_at(tk, i + 2).alias("w2"),
                ),
            ),
        ).otherwise(F.array())

    return F.get(F.transform(F.array(tokens(text)), build), 0)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>.

    Built with sequence+transform over the token array — per-row,
    no explode/shuffle.  Documents shorter than ``n`` words yield
    their full token join as a single shingle.

    The token array is bound as a lambda VARIABLE (same trick as
    ``shingle_hashes``): referencing the split() expression from
    inside the slice lambda would make Catalyst inline and re-run
    tokenization once per shingle position — O(n²) per document.
    """

    def build(tkv: Column) -> Column:
        ngrams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tkv) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(tkv, i + 1, n), " "),
        )
        return F.array_distinct(ngrams)

    return F.get(F.transform(F.array(tokens(text)), build), 0)


def shingles_all(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles WITHOUT the distinct collapse — the
    multiset twin of ``shingles`` for consumers that need a term
    FREQUENCY (TF-IDF vectors), where a repeated shingle must count
    twice.  Same positional identity: one shingle per start position
    0..max(len−n, 0), short documents yield their full token join."""

    def build(tkv: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tkv) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(tkv, i + 1, n), " "),
        )

    return F.get(F.transform(F.array(tokens(text)), build), 0)


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct 64-bit shingle fingerprints as array<bigint> — the
    hash-identity twin of ``shingles``.

    Each token is hashed ONCE; a shingle's fingerprint is xxhash64 over
    its n token hashes.  No per-shingle string is ever allocated —
    profiled 3-4× cheaper than hashing ``array_join``-built shingle
    strings at sf0.1.  Identity matches ``shingles`` exactly: tokens
    contain no whitespace, so the space-join is injective, and trailing
    positions of a short document contribute NULL token hashes, which
    xxhash64 skips (mirroring ``array_join``'s shorter slice).  Use
    wherever only shingle EQUALITY matters (MinHash, inverted-index
    Jaccard); use ``shingles`` when the text itself is the output.
    """
    th = F.transform(tokens(text), lambda t: F.xxhash64(t))

    # Bind the token-hash array as a lambda VARIABLE so it is evaluated
    # once per row: referencing the `th` expression tree n times per
    # shingle position would make Catalyst inline and re-evaluate the
    # whole tokenize+hash pass n times (measured 4.7× slower).
    def build(thv: Column) -> Column:
        ngrams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(thv) - n, F.lit(0))),
            lambda i: F.xxhash64(*[F.get(thv, i + k) for k in range(n)]),
        )
        return F.array_distinct(ngrams)

    return F.get(F.transform(F.array(th), build), 0)


#: Permutation count of the oracle-checkable md5 MinHash signature.
SIG_PERMS = 8


def md5_minhash(sh: Column | str) -> list[Column]:
    """The cross-engine MinHash signature of a shingle-string array:
    ``SIG_PERMS`` columns ``sig{j}``, each the lexicographic min of
    md5('{j}:' || shingle) — lowercase hex in both engines, so DuckDB's
    ``list_min(list_transform(sh, x -> md5('{j}:' || x)))`` is the
    value-identical twin.  Per-row ``transform`` + ``array_min``: whole-
    stage codegen, no shuffle.  Pass ``sh`` as a column reference (or
    a staged projection): each permutation re-reads the array.
    """

    # The lambda MUST stay unary: pyspark binds a 2-param lambda as
    # (element, index), so a `j=j` default capture would be silently
    # overwritten by the array index.
    def perm_min(j: int) -> Column:
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{j}:"), s)))
        ).alias(f"sig{j}")

    return [perm_min(j) for j in range(SIG_PERMS)]


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash of the token multiset.

    bit b of the result = majority vote of bit b across xxhash64(token).
    Expressed as 64 in-row aggregate reductions — heavy to write, cheap
    to run (single pass over the token array per bit group, all
    codegen).  Hamming-close simhashes ⇒ near-duplicate texts.
    """
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def vote_for(b: int):
        # vote_b = Σ (bit set ? 1 : -1); bit set in result iff vote >= 0
        def step(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return F.aggregate(hashes, F.lit(0).cast("long"), step)

    out = F.lit(0).cast("long")
    for b in range(64):
        bit_value = F.lit(2**b if b < 63 else -(2**63)).cast("long")
        out = out + F.when(vote_for(b) >= 0, bit_value).otherwise(F.lit(0).cast("long"))
    return out


def rolling_fingerprint(text: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over tokens
    (Rabin-Karp style): fp = Σ h(w_i)·31^(k-i) mod 1_000_000_007.

    The per-token hash uses only length+first-char ascii so a SQL
    oracle can reproduce it exactly (xxhash64 has no DuckDB
    equivalent); intermediate values stay < 2^35, safe under Spark's
    ANSI overflow checking.
    """
    tok_hashes = F.transform(
        tokens(text),
        lambda w: (F.length(w) * 131 + F.ascii(F.substring(w, 1, 1))).cast("long"),
    )
    return F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % 1_000_000_007,
    )
