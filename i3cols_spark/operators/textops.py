"""§2.3-E — text analysis over the documents table: stats, quality
scoring, language-ID heuristic, token counting, fingerprinting,
TF-IDF top terms.

All tokenization happens with JVM-side split/HOF expressions; the only
shuffles are the analytic groupBys — each query is scan-dominated and
scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from i3cols_spark.functions.text import (
    bigrams,
    normalize,
    rolling_fingerprint,
    shingles,
    tokens,
)
from i3cols_spark.functions.rounding import round_half_up
from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import materialize, spread, table


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)                            AS n_docs,
           CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
                                                               AS total_words,
           floor(avg(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
                                                               AS avg_words,
           CAST(count(DISTINCT source) AS BIGINT)              AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language (tokenize → grouped counts)."""
    docs = table(spark, sf_dir, "documents").withColumn("n_words", F.size(tokens("text")))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        round_half_up(F.avg(F.col("n_words").cast("double")), 6).alias("avg_words"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(toks) AS BIGINT)    AS n_words,
           CAST(len(list_filter(toks, w -> w IN ('the', 'a'))) AS DOUBLE) / len(toks)
                                        AS stopword_ratio,
           (len(toks) BETWEEN 20 AND 200
            AND CAST(len(list_filter(toks, w -> w IN ('the', 'a'))) AS DOUBLE)
                / len(toks) < 0.2)      AS quality_ok
    FROM (SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents)
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: length, stopword ratio, rule flag
    (the heuristics an LLM-data pipeline gates training docs on).
    Ratios are int/int divisions → exact, no rounding."""
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_words = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda w: w.isin("the", "a")))
    ratio = n_stop.cast("double") / n_words
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_words.cast("long").alias("n_words"),
        ratio.alias("stopword_ratio"),
        (n_words.between(20, 200) & (ratio < 0.2)).alias("quality_ok"),
    )


@query(
    "q_text_langid",
    oracle="""
    SELECT doc_id, lang AS lang_actual,
           CASE
               WHEN len(list_filter(toks, w -> w IN ('the', 'a'))) >= 2 THEN 'en'
               WHEN len(list_filter(toks, w -> w IN ('spark', 'stream'))) >= 2 THEN 'tech'
               ELSE 'und'
           END AS lang_pred
    FROM (SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents)
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (n-gram scoring skeleton).

    The fixture vocabulary is synthetic word soup, so the classifier's
    *labels* are toy — the shape (tokenize → marker counts → argmax
    CASE) is the real n-gram langid plumbing, deterministic for the
    oracle.
    """
    docs = table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_en = F.size(F.filter("toks", lambda w: w.isin("the", "a")))
    n_tech = F.size(F.filter("toks", lambda w: w.isin("spark", "stream")))
    pred = (
        F.when(n_en >= 2, "en").when(n_tech >= 2, "tech").otherwise("und")
    )
    return docs.select(
        "doc_id", F.col("lang").alias("lang_actual"), pred.alias("lang_pred")
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
               AS ws_tokens,
           CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+')) AS BIGINT)
               AS re_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex word
    classes, and the chars/4 approximation used for budget estimates."""
    docs = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(F.split(norm, r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit("[a-z]+|[0-9]+"), 0)).cast("long").alias("re_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("approx_bpe_tokens"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(
                   CAST(0 AS BIGINT),
                   list_transform(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       w -> CAST(length(w) * 131 + ascii(substring(w, 1, 1)) AS BIGINT)
                   )
               ),
               (acc, x) -> (acc * 31 + x) % 1000000007
           ) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint (Rabin-Karp style
    polynomial hash) — distinguishes reordered word-soup where bag-of-
    words hashes collide.  Pure integer arithmetic → exact oracle."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


@query(
    "q_tfidf_topterms",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ),
    tf AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY lang, word
    ),
    df AS (
        SELECT word, CAST(count(DISTINCT lang) AS BIGINT) AS df
        FROM tf GROUP BY word
    ),
    nl AS (SELECT CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs FROM tok),
    scored AS (
        SELECT tf.lang, tf.word, tf.tf,
               round(tf.tf * ln(nl.n_langs / df.df), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN nl
    )
    SELECT lang, word, tf, tfidf
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY tfidf DESC, word
        ) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by TF-IDF (token counts → document
    frequency join → windowed top-k).  ln() is transcendental →
    rounded 6 dp both sides; ties broken by word for determinism."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens("text")).alias("word"))
    tf = tok.groupBy("lang", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.countDistinct("lang").alias("df"))
    n_langs = tok.select(F.countDistinct("lang").alias("n_langs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_langs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_langs").cast("double") / F.col("df")), 6),
        )
    )
    w = W.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "word", "tf", "tfidf")
    )


@query(
    "q_text_token_rarity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ),
    ranked AS (
        SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk
        FROM vocab
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT)      AS n_tokens,
           CAST(sum(r.rnk) AS BIGINT)    AS rank_sum,
           CAST(max(r.rnk) AS BIGINT)    AS rarest_rank,
           floor(CAST(sum(r.rnk) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000.0 AS mean_rank
    FROM toks t JOIN ranked r ON t.tok = r.tok
    GROUP BY t.doc_id
    """,
)
def q_text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-rank rarity scoring: rank every vocabulary token by corpus
    frequency (1 = most common), then score each document by the mean
    and max rank of its tokens — the rare-token-density signal
    curriculum ordering and quality filters use (a deterministic
    stand-in for LM perplexity: high mean rank ⇔ unusual vocabulary).

    Two-phase global-statistics shape: phase 1 builds the vocabulary
    rank table (token groupBy — shuffle ∝ |vocab|, map-side combined;
    the rank window is over the VOCAB table, not the corpus); phase 2
    broadcasts it back onto the exploded corpus (vocabularies are
    ~10⁶ rows at any corpus size — always broadcastable) and
    re-aggregates per doc: one corpus-sized shuffle total.
    Determinism by construction: rank sums are exact integers (no
    float reduction order), so no rounding negotiation with the
    oracle — ties in frequency break on the token string.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    vocab = docs.groupBy("tok").agg(F.count("*").alias("cnt"))
    ranked = vocab.select(
        "tok",
        F.row_number()
        .over(W.orderBy(F.desc("cnt"), F.asc("tok")))
        .alias("rnk"),
    )
    return (
        docs.join(F.broadcast(ranked), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("rnk").alias("rank_sum"),
            F.max("rnk").alias("rarest_rank"),
            round_half_up(F.sum("rnk").cast("double") / F.count("*"), 6).alias("mean_rank"),
        )
    )


@query(
    "q_agg_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts)
    SELECT tok, cnt,
           floor(cnt / total * 1000000 + 0.5) / 1000000.0 AS share
    FROM counts, tot
    WHERE cnt >= 50
    ORDER BY cnt DESC, tok
    LIMIT 25
    """,
)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items / heavy-hitters: the corpus tokens appearing at
    least 50 times, with their share of all tokens, top 25 by count —
    the exact form of the frequency query behind stopword discovery,
    vocabulary pruning and boilerplate detection in a training-data
    pipeline.

    Shape: explode → ONE map-side-combined groupBy (state = |vocab|,
    not |tokens| — raw token rows never shuffle), the grand total read
    off the counts frame itself (no second scan of the data), and the
    top-25 via TakeOrderedAndProject heaps over the vocabulary-sized
    frame.  At 100 TB the exact count shuffles |vocab| rows — fine for
    word-like vocabularies; for unbounded key domains (URLs, n-grams)
    swap the same pipeline onto a count-min/space-saving sketch and
    keep this exact form as its verification twin.

    Share is a ratio of exact integers → HALF_UP canonical rounding in
    both dialects (functions/rounding.py).
    """
    tok = spread(table(spark, sf_dir, "documents"), spark).select(
        F.explode(tokens("text")).alias("tok")
    )
    counts = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= 50)
        .select(
            "tok",
            "cnt",
            round_half_up(F.col("cnt") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(25)
    )


@query(
    "q_source_overlap",
    oracle="""
    WITH dtexts AS (
        SELECT DISTINCT source, text FROM documents
    ),
    toks AS (
        SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM dtexts
    ),
    pos AS (
        SELECT source, tk,
               unnest(generate_series(0, greatest(len(tk) - 2, 0))) AS i
        FROM toks
    ),
    vocab AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(tk, i + 1, i + 2), ' ') AS sh
        FROM pos
    ),
    sized AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY source
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS common
        FROM vocab a JOIN vocab b ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, common, sa.n AS n_a, sb.n AS n_b,
           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
    FROM inter
    JOIN sized sa ON src_a = sa.source
    JOIN sized sb ON src_b = sb.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus overlap between sources: Jaccard similarity of
    each source pair's distinct word-BIGRAM vocabularies — the
    source-level contamination / redundancy audit run before mixing
    corpora into a training set (two crawls of the same site show up
    as a high-Jaccard pair before any doc-level dedup runs).

    Shape: COLLAPSE EXACT-DUPLICATE TEXTS per source first (the house
    dedup order — group by (source, xxhash64(normalized text)), keep
    one representative), so the shingling pass runs over distinct
    texts only: a corpus that is d× replicated crawls costs the
    expensive tokenize+bigram HOF 1×, not d× (the uncollapsed form
    measured 3.4× wall at a 10×-replica probe; this form ~1×, and the
    vocabulary result is identical since duplicate texts add no new
    bigrams).  Then per-row bigram shingling (shared ``shingles``
    helper — no explode until after the per-doc distinct), ONE
    distinct over (source, shingle) — state = union vocabulary, not
    token count — then the same inverted-index self-join as
    q_dedup_ngram_jaccard: only shingles both sources share produce
    join rows, so the pair space is collision-bound, never
    |sources|² × |vocab|.  Sizes join back via broadcast (the
    per-source frame is |sources| rows).  At 100 TB the vocab frame
    is the only shuffled data and is bounded by distinct bigrams per
    source — the op's cost is the scan plus a skew-safe equi-join on
    the shingle key (AQE territory for stop-bigrams).  Jaccard is
    int/int division → bit-identical, no rounding.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark)
    reps = docs.groupBy(
        "source", F.xxhash64(normalize("text")).alias("th")
    ).agg(F.first("text").alias("text"))
    vocab = reps.select(
        "source", F.explode(shingles("text", 2)).alias("sh")
    ).distinct()
    sized = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        inter.join(
            F.broadcast(sized.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sized.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a", "src_b", "common", "n_a", "n_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )


#: PII patterns shared by the Spark plan and the oracle — conservative
#: character classes that parse identically under Java regex (Spark)
#: and RE2 (DuckDB).  The fixture corpus is synthetic word soup with
#: no organic PII, so deterministic synthetic PII is INJECTED first
#: (doc_id-keyed, same expression in both dialects) — the scrubber
#: machinery (match counting + global redaction) is the real artifact;
#: the injection just makes its behavior observable and non-vacuous.
_PII_EMAIL = "[a-z0-9._-]+@[a-z0-9.-]+"
_PII_PHONE = "[0-9]{3}-[0-9]{4}"


@query(
    "q_text_pii_scrub",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE
                   WHEN doc_id % 5 = 0 THEN
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com now'
                   WHEN doc_id % 7 = 0 THEN
                       text || ' call 555-0'
                            || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
                            || ' today'
                   ELSE text
               END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
           length(t) AS n_chars_in
    FROM injected
    """,
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and globally replace email /
    phone patterns in every document — the compliance scrub a training
    corpus passes through before anything else sees it.

    Shape: pure per-row regexp projection — no shuffle, no state, no
    Python; the regex engine runs inside whole-stage codegen and the
    op pipelines with the scan at any SF.  Patterns are restricted to
    constructs with identical semantics in Java regex and RE2 (no
    backrefs, no lookaround) so the oracle runs them verbatim; Spark's
    ``regexp_replace`` is global by default, DuckDB's takes the 'g'
    flag.  The fixture has no organic PII, so a deterministic
    doc_id-keyed injection (every 5th doc an email, every non-overlap
    7th a phone) makes the scrub observable end-to-end — swap the
    injection for the raw column on a real corpus.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark)
    injected = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call 555-0"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
    )
    t = F.col("t")
    return docs.select("doc_id", injected.alias("t")).select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), 0)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ).alias("scrubbed"),
        F.length(t).cast("long").alias("n_chars_in"),
    )


@query(
    "q_text_perplexity",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    b AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] <> '' AND toks[i + 1] <> ''
    ),
    cnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs FROM b GROUP BY 1, 2
    ),
    lm AS (
        SELECT w1, w2,
               n_pairs / sum(n_pairs) OVER (PARTITION BY w1) AS p_next
        FROM cnt
    ),
    scored AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT)   AS n_bigrams,
               round(avg(ln(lm.p_next)), 6) AS avg_logp
        FROM b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
        GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           s.avg_logp
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM score — the data-quality filter that
    composes q_text_bigram_lm's count table with each document: mean
    log-probability of the doc's adjacent token pairs under the
    corpus-wide conditional P(w2|w1).  Low avg_logp = improbable
    token sequences (boilerplate mangling, OCR noise, wrong-language
    fragments) — the classic perplexity-style keep/drop signal, one
    row per document.

    Plan: doc bigrams built per row with the sequence+transform
    lambda-bind pattern (no O(n²) re-tokenization — functions/text.py
    discipline); the LM side aggregates the SAME exploded bigram
    stream (vocabulary²-sized), gets its window normalization, and
    broadcast-or-shuffle joins back on (w1, w2).  Per-pair p_next is
    exact BIGINT/BIGINT IEEE division; the per-doc mean of ln() terms
    is order-nondeterministic and rounds at 6 dp in both engines
    (registry discipline).  Left join back to documents keeps
    bigram-less docs (n_bigrams = 0, NULL score).

    Scale: bigram volume is linear in corpus tokens; the LM join key
    (w1, w2) concentrates on frequent pairs — AQE skew-join
    territory like every vocabulary join in this file.
    """

    docs0 = spread(table(spark, sf_dir, "documents"), spark)
    b = (
        docs0.select("doc_id", F.explode(bigrams("text")).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    cnt = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pairs"))
    lm = cnt.select(
        "w1",
        "w2",
        (F.col("n_pairs") / F.sum("n_pairs").over(W.partitionBy("w1"))).alias(
            "p_next"
        ),
    )
    scored = (
        b.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("p_next")), 6).alias("avg_logp"),
        )
    )
    base = table(spark, sf_dir, "documents").select("doc_id")
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "avg_logp",
    )


@query(
    "q_text_bigram_lm",
    oracle="""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    b AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] <> '' AND toks[i + 1] <> ''
    ),
    cnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs FROM b GROUP BY 1, 2
    ),
    tot AS (
        SELECT w1, w2, n_pairs,
               n_pairs / sum(n_pairs) OVER (PARTITION BY w1) AS p_next
        FROM cnt
    )
    SELECT w1, w2, n_pairs, p_next
    FROM tot
    ORDER BY n_pairs DESC, w1, w2
    LIMIT 50
    """,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics over the corpus: adjacent
    token pairs counted globally, normalized to next-token conditional
    probabilities P(w2|w1), top-50 by frequency — the count table
    behind n-gram LM scoring, corpus-divergence tests, and the
    "predictable continuation" repetition signal.

    Shape, outside-in: (1) COLLAPSE EXACT-DUPLICATE TEXTS first —
    group by xxhash64(text) with a multiplicity count, so each
    distinct text is tokenized and pair-expanded ONCE and its bigram
    counts are weighted by how often it occurs (identical totals,
    measured 5.1× → ~1× at the 100× replicated-corpus probe: web
    corpora are duplicate-heavy, and shingling replicas is pure
    waste); (2) bigrams are built PER ROW with sequence+transform
    over the token array (the shingle pattern of functions/text.py —
    no self-join on position, no explode before pairing), then one
    map-side-combined weighted groupBy of (w1, w2); (3) the
    normalization window and top-k run over the aggregated pair
    table (vocabulary², not corpus, sized).  The probability is a
    per-row BIGINT/BIGINT IEEE division — bit-identical in both
    engines, unrounded.
    """
    distinct_texts = (
        table(spark, sf_dir, "documents")
        .groupBy(F.xxhash64("text").alias("th"))
        .agg(F.count(F.lit(1)).alias("mult"), F.first("text").alias("text"))
    )
    pairs = (
        distinct_texts.select("mult", F.explode(bigrams("text")).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"), "mult")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.sum("mult").alias("n_pairs"))
    )
    norm = W.partitionBy("w1")
    return (
        pairs.select(
            "w1",
            "w2",
            "n_pairs",
            (F.col("n_pairs") / F.sum("n_pairs").over(norm)).alias("p_next"),
        )
        .orderBy(F.desc("n_pairs"), "w1", "w2")
        .limit(50)
    )


#: Collocation support floor: pairs seen fewer times are noise for
#: PMI (the estimator's variance blows up as 1/n_pair).
_PMI_MIN_SUPPORT = 20


@query(
    "q_text_pmi_collocations",
    oracle=rf"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    b AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] <> '' AND toks[i + 1] <> ''
    ),
    cnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        FROM b GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM cnt),
    lefts AS (
        SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left FROM cnt GROUP BY 1
    ),
    rights AS (
        SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_right FROM cnt GROUP BY 1
    )
    SELECT w1, w2, n_pair,
           floor(ln(CAST(n_pair AS DOUBLE) * n
                    / (CAST(n_left AS DOUBLE) * n_right))
                 * 1000000 + 0.5) / 1000000.0 AS pmi
    FROM cnt JOIN lefts USING (w1) JOIN rights USING (w2), tot
    WHERE n_pair >= {_PMI_MIN_SUPPORT}
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks
    1990): which adjacent token pairs co-occur MORE than their
    marginal frequencies predict — the phrase-mining signal behind
    tokenizer vocabulary induction and stop-phrase lists, and the
    associational statistic q_text_bigram_lm's raw counts don't give.
    PMI = ln(P(w1,w2) / (P(w1·)P(·w2))) over the bigram event space,
    support-floored (n_pair ≥ 20 — below that the estimator is
    noise), top-20 by (rounded PMI, w1, w2) so the cut is
    deterministic.

    Shape: the same collapse-first bigram stream as q_text_bigram_lm
    (distinct texts × multiplicity, per-row sequence+transform pair
    build — the lambda-bind discipline), ONE map-side-combined
    weighted groupBy to the vocabulary²-sized pair table; marginals
    are windows OVER THAT TABLE (partitioned by w1 / by w2), never a
    second corpus pass, and the grand total joins back as a 1-row
    broadcast.  The PMI expression is the identical
    a·n/(b·c) shape in both dialects (integer counts, one IEEE
    division, ln, HALF_UP 6 dp — the registry's integer-ratio
    discipline applied through a transcendental).

    Scale: everything after the bigram aggregation is
    vocabulary-sized; the corpus-sized stages are the same two
    (tokenize + weighted groupBy) every text operator here shares.
    """

    distinct_texts = (
        spread(table(spark, sf_dir, "documents"), spark)
        .groupBy(F.xxhash64(F.col("text")).alias("th"))
        .agg(F.count(F.lit(1)).alias("mult"), F.first("text").alias("text"))
    )
    pairs = (
        distinct_texts.select("mult", F.explode(bigrams("text")).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"), "mult")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.sum("mult").alias("n_pair"))
    )
    tot = pairs.agg(F.sum("n_pair").alias("n"))
    marg = pairs.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(W.partitionBy("w1")).alias("n_left"),
        F.sum("n_pair").over(W.partitionBy("w2")).alias("n_right"),
    )
    pmi = round_half_up(
        F.log(
            F.col("n_pair").cast("double")
            * F.col("n")
            / (F.col("n_left").cast("double") * F.col("n_right"))
        ),
        6,
    )
    return (
        marg.join(F.broadcast(tot))
        .filter(F.col("n_pair") >= _PMI_MIN_SUPPORT)
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@query(
    "q_text_llr_collocations",
    oracle=rf"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    b AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] <> '' AND toks[i + 1] <> ''
    ),
    cnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        FROM b GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM cnt),
    m AS (
        SELECT w1, w2, n_pair,
               sum(n_pair) OVER (PARTITION BY w1) AS n_left,
               sum(n_pair) OVER (PARTITION BY w2) AS n_right
        FROM cnt
    ),
    cells AS (
        SELECT w1, w2, n_pair,
               CAST(n_pair AS DOUBLE)                       AS k11,
               CAST(n_left - n_pair AS DOUBLE)              AS k12,
               CAST(n_right - n_pair AS DOUBLE)             AS k21,
               CAST(n - n_left - n_right + n_pair AS DOUBLE) AS k22,
               CAST(n AS DOUBLE)        AS nd,
               CAST(n_left AS DOUBLE)   AS r1,
               CAST(n - n_left AS DOUBLE)  AS r2,
               CAST(n_right AS DOUBLE)  AS c1,
               CAST(n - n_right AS DOUBLE) AS c2
        FROM m, tot
    )
    SELECT w1, w2, n_pair,
           floor(2.0 * (
                 (CASE WHEN k11 > 0 THEN k11 * ln(k11 * nd / (r1 * c1))
                       ELSE 0.0 END)
               + (CASE WHEN k12 > 0 THEN k12 * ln(k12 * nd / (r1 * c2))
                       ELSE 0.0 END)
               + (CASE WHEN k21 > 0 THEN k21 * ln(k21 * nd / (r2 * c1))
                       ELSE 0.0 END)
               + (CASE WHEN k22 > 0 THEN k22 * ln(k22 * nd / (r2 * c2))
                       ELSE 0.0 END)
           ) * 1000000 + 0.5) / 1000000.0 AS llr
    FROM cells
    WHERE n_pair >= {_PMI_MIN_SUPPORT}
    ORDER BY llr DESC, w1, w2
    LIMIT 20
    """,
)
def q_text_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood-ratio collocations (Dunning 1993) — the
    significance-TESTED twin of q_text_pmi_collocations: PMI rewards
    rare coincidences (two hapaxes that co-occur once get a huge
    score, floored away only by the support cut), while G² weighs the
    full 2×2 contingency (pair / left-only / right-only / neither),
    so frequent genuinely-associated pairs rank above frequent-but-
    independent ones.  This is the collocation statistic phrase-mining
    pipelines actually ship (Dunning's G² is the Mahout/NLTK default).

    G² = 2·Σ k·ln(k·N / (R·C)) over the four cells, zero-guarded —
    four ln terms summed in a FIXED order on both engines (HALF_UP
    6 dp absorbs the ≤1-ulp libm/JVM ln divergence, the PMI
    precedent through a transcendental ×4).

    Shape: identical to PMI — one collapse-first bigram stream, one
    map-side-combined pair groupBy, marginals as windows over the
    vocabulary²-sized pair table, the grand total a 1-row broadcast.
    Everything after the bigram aggregation is vocabulary-sized.
    """

    distinct_texts = (
        spread(table(spark, sf_dir, "documents"), spark)
        .groupBy(F.xxhash64(F.col("text")).alias("th"))
        .agg(F.count(F.lit(1)).alias("mult"), F.first("text").alias("text"))
    )
    pairs = (
        distinct_texts.select("mult", F.explode(bigrams("text")).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"), "mult")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.sum("mult").alias("n_pair"))
    )
    tot = pairs.agg(F.sum("n_pair").alias("n"))
    marg = pairs.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(W.partitionBy("w1")).alias("n_left"),
        F.sum("n_pair").over(W.partitionBy("w2")).alias("n_right"),
    )
    k11 = F.col("n_pair").cast("double")
    k12 = (F.col("n_left") - F.col("n_pair")).cast("double")
    k21 = (F.col("n_right") - F.col("n_pair")).cast("double")
    k22 = (
        F.col("n") - F.col("n_left") - F.col("n_right") + F.col("n_pair")
    ).cast("double")
    nd = F.col("n").cast("double")
    r1 = F.col("n_left").cast("double")
    r2 = (F.col("n") - F.col("n_left")).cast("double")
    c1 = F.col("n_right").cast("double")
    c2 = (F.col("n") - F.col("n_right")).cast("double")

    def term(k, r, c):
        return F.when(k > 0, k * F.log(k * nd / (r * c))).otherwise(F.lit(0.0))

    llr = round_half_up(
        F.lit(2.0)
        * (term(k11, r1, c1) + term(k12, r1, c2) + term(k21, r2, c1) + term(k22, r2, c2)),
        6,
    )
    return (
        marg.join(F.broadcast(tot))
        .filter(F.col("n_pair") >= _PMI_MIN_SUPPORT)
        .select("w1", "w2", "n_pair", llr.alias("llr"))
        .orderBy(F.desc("llr"), "w1", "w2")
        .limit(20)
    )


#: Kneser–Ney absolute discount: ¾ is the textbook fixed-D choice and
#: EXACTLY dyadic, so c − D stays bit-exact in both engines.
_KN_DISCOUNT = 0.75


@query(
    "q_text_kneser_ney",
    oracle=r"""
    WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    b AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE toks[i] <> '' AND toks[i + 1] <> ''
    ),
    cnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM b GROUP BY 1, 2
    ),
    stats AS (
        SELECT w1, w2, n_pair,
               sum(n_pair) OVER (PARTITION BY w1)  AS c1,
               count(*)    OVER (PARTITION BY w1)  AS n1_fw,
               count(*)    OVER (PARTITION BY w2)  AS n1_bw,
               count(*)    OVER ()                 AS n1_tot
        FROM cnt
    )
    SELECT w1, w2, n_pair,
           CAST(n1_fw AS BIGINT) AS n_continuations,
           floor((CAST(n_pair AS DOUBLE) / c1) * 1000000 + 0.5) / 1000000.0 AS p_mle,
           floor(((n_pair - 0.75) / c1
                  + ((0.75 * n1_fw) / c1) * (CAST(n1_bw AS DOUBLE) / n1_tot))
                 * 1000000 + 0.5) / 1000000.0 AS p_kn
    FROM stats
    ORDER BY n_pair DESC, w1, w2
    LIMIT 20
    """,
)
def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1999's fixed-discount form, D = ¾):
    P_KN(w2|w1) = (c−D)/c(w1) + D·N₁₊(w1,·)/c(w1) · P_cont(w2), with
    the continuation prior P_cont(w2) = N₁₊(·,w2)/N₁₊(·,·) — the
    smoothing that made n-gram LMs production-grade, and the
    principled upgrade to q_text_bigram_lm's MLE table (emitted
    alongside as p_mle so the discount's effect is visible per pair).
    "San Francisco" famously inflates MLE P(francisco|·); the
    continuation count asks how many DISTINCT contexts a word
    follows, which is what the backoff mass should reward.

    Shape: the SAME collapse-first weighted bigram count table as
    q_text_bigram_lm (each distinct text pair-expanded once,
    multiplicity-weighted, one map-side-combined groupBy); every KN
    ingredient — context totals c(w1), forward type counts N₁₊(w1,·),
    continuation counts N₁₊(·,w2), the global type total — is a
    window over that vocabulary²-sized table, never a second corpus
    pass.  Only SEEN bigrams are emitted (the unseen mass lives in
    the backoff term by construction).

    Determinism: all counts are exact integers and D = ¾ is dyadic,
    so c − D is bit-exact; the probability expressions mirror the
    oracle's operation tree exactly and round HALF_UP at 6 dp —
    these ARE dyadic-denominator rationals, precisely the class that
    lands on .5 boundaries (registry discipline).  Top-20 orders on
    the exact integer count with (w1, w2) tie-breaks.
    """

    from i3cols_spark.functions.rounding import round_half_up

    distinct_texts = (
        table(spark, sf_dir, "documents")
        .groupBy(F.xxhash64("text").alias("th"))
        .agg(F.count(F.lit(1)).alias("mult"), F.first("text").alias("text"))
    )
    cnt = (
        distinct_texts.select("mult", F.explode(bigrams("text")).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"), "mult")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.sum("mult").cast("bigint").alias("n_pair"))
    )
    stats = cnt.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(W.partitionBy("w1")).alias("c1"),
        F.count(F.lit(1)).over(W.partitionBy("w1")).alias("n1_fw"),
        F.count(F.lit(1)).over(W.partitionBy("w2")).alias("n1_bw"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n1_tot"),
    )
    d = F.lit(_KN_DISCOUNT)
    p_kn = (
        (F.col("n_pair") - d) / F.col("c1")
        + ((d * F.col("n1_fw")) / F.col("c1"))
        * (F.col("n1_bw").cast("double") / F.col("n1_tot"))
    )
    return (
        stats.select(
            "w1",
            "w2",
            "n_pair",
            F.col("n1_fw").cast("bigint").alias("n_continuations"),
            round_half_up(F.col("n_pair").cast("double") / F.col("c1"), 6).alias("p_mle"),
            round_half_up(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.desc("n_pair"), "w1", "w2")
        .limit(20)
    )


#: Feature-hashing dimensionality — small enough that collisions are
#: guaranteed at fixture scale (the audit must have something to show).
_FHASH_DIM = 64


@query(
    "q_text_feature_hashing",
    oracle=rf"""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ), keep AS (
        SELECT term FROM toks WHERE term <> ''
    ), hashed AS (
        SELECT term,
               CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
                   % {_FHASH_DIM} AS bucket
        FROM keep
    ), per_term AS (
        SELECT bucket, term, CAST(count(*) AS BIGINT) AS n
        FROM hashed GROUP BY 1, 2
    ), ranked AS (
        SELECT bucket, term, n,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY n DESC, term) AS rk
        FROM per_term
    )
    SELECT bucket,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_terms,
           max(CASE WHEN rk = 1 THEN term END) AS top_term
    FROM ranked
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009) audited: every token
    hashes into a fixed 64-dim feature space (the
    vocabulary-free vectorization behind linear text classifiers and
    spam filters at scale), and the query reports per-bucket load —
    token occurrences, DISTINCT terms sharing the bucket (the
    collision count that silently degrades such models), and the
    dominant term.  The dimension is deliberately tiny so the audit
    has real collisions to show at fixture scale.

    Shape: explode → md5-bucket (the cross-engine hash family) → one
    map-side-combined (bucket, term) groupBy; bucket stats are a
    second tiny aggregate over the per-term table, with the dominant
    term picked by a (count DESC, term) row_number — deterministic in
    both engines.  At 100 TB the (bucket, term) aggregate is the
    vocabulary-sized reduction every operator in this file bounds
    itself by; the final output is 64 rows regardless of
    corpus size.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("term")).filter(
        F.col("term") != ""
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint"),
        F.lit(_FHASH_DIM),
    )
    per_term = (
        toks.groupBy(bucket.alias("bucket"), F.col("term"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = W.partitionBy("bucket").orderBy(F.desc("n"), "term")
    ranked = per_term.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.max(F.when(F.col("rk") == 1, F.col("term"))).alias("top_term"),
        )
        .orderBy("bucket")
    )


@query(
    "q_text_zipf_fit",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ), cnt AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n
        FROM toks WHERE term <> '' GROUP BY term
    ), ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rk
        FROM cnt
    )
    SELECT round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS zipf_slope,
           round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS zipf_intercept,
           round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 6)
               AS r2,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM ranked WHERE n >= 5
    """,
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS of ln(frequency)
    on ln(rank) over terms with support ≥ 5 — natural language sits
    near slope −1, so the fitted slope (with r²) is a one-row corpus
    health check (template/boilerplate floods flatten it, the
    q_stats_benford idea applied to text).  Rank ties break on the
    term so both engines rank identically.

    Shape: one map-side-combined term count (vocabulary-sized), one
    ordered rank window over the vocabulary (a sort of aggregates),
    and a single-pass regr_* fold — the q_agg_stats_corr machinery
    pointed at log-log space.  Multi-row regression reductions round
    at 6 dp.
    """
    docs = table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ranked = cnt.withColumn(
        "rk", F.row_number().over(W.orderBy(F.desc("n"), "term"))
    ).filter(F.col("n") >= 5)
    ln_n = F.log(F.col("n").cast("double"))
    ln_rk = F.log(F.col("rk").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(ln_n, ln_rk), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_rk), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_n, ln_rk), 6).alias("r2"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )


@query(
    "q_ml_eval_langid",
    oracle="""
    WITH scored AS (
        SELECT lang AS lang_actual,
               CASE
                   WHEN len(list_filter(toks, w -> w IN ('the', 'a'))) >= 2
                       THEN 'en'
                   WHEN len(list_filter(toks, w -> w IN ('spark', 'stream'))) >= 2
                       THEN 'tech'
                   ELSE 'und'
               END AS lang_pred
        FROM (SELECT lang,
                     string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents)
    ),
    cells AS (
        SELECT lang_pred, lang_actual, CAST(count(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2
    ),
    m AS (
        SELECT CAST(sum(CASE WHEN lang_pred = 'en' AND lang_actual = 'en'
                             THEN n ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN lang_pred = 'en' AND lang_actual <> 'en'
                             THEN n ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN lang_pred <> 'en' AND lang_actual = 'en'
                             THEN n ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN (lang_pred = 'en') = (lang_actual = 'en')
                             THEN n ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(sum(n) AS BIGINT) AS n_total
        FROM cells
    )
    SELECT lang_pred, lang_actual, n,
           floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5) / 1000000.0
               AS precision_en,
           floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000 + 0.5) / 1000000.0
               AS recall_en,
           floor(2.0 * tp / (2.0 * tp + fp + fn) * 1000000 + 0.5) / 1000000.0
               AS f1_en,
           floor(CAST(n_correct AS DOUBLE) / n_total * 1000000 + 0.5) / 1000000.0
               AS accuracy_binarized
    FROM cells CROSS JOIN m
    ORDER BY lang_pred, lang_actual
    """,
)
def q_ml_eval_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation on the checked surface: the confusion
    matrix of q_text_langid's predictions against the ground-truth
    lang column, with precision / recall / F1 for the one class the
    heuristic actually detects ('en') and binarized accuracy — the
    metrics block every model-gating pipeline computes, expressed as
    two tiny aggregations.  Evaluating the engine's OWN heuristic
    against fixture truth keeps the whole computation value-hash-
    checkable (predictions are deterministic SQL in both dialects),
    and the honest scope note is itself the point: the marker-word
    heuristic only claims English detection, so per-class PRF beyond
    'en' would be vacuous.

    Shape: one tokenize+CASE scan (whole-stage codegen), one map-
    side-combined (pred, actual) groupBy (≤ |pred|×|actual| cells),
    and the metric fold over that tiny table broadcast back as
    constant columns.  All metrics are exact-integer ratios →
    HALF_UP 6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up

    docs = table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_en = F.size(F.filter("toks", lambda w: w.isin("the", "a")))
    n_tech = F.size(F.filter("toks", lambda w: w.isin("spark", "stream")))
    pred = F.when(n_en >= 2, "en").when(n_tech >= 2, "tech").otherwise("und")
    cells = (
        docs.select(pred.alias("lang_pred"), F.col("lang").alias("lang_actual"))
        .groupBy("lang_pred", "lang_actual")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    is_en_p = F.col("lang_pred") == "en"
    is_en_a = F.col("lang_actual") == "en"
    m = cells.agg(
        F.sum(F.when(is_en_p & is_en_a, F.col("n")).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when(is_en_p & ~is_en_a, F.col("n")).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when(~is_en_p & is_en_a, F.col("n")).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when(is_en_p == is_en_a, F.col("n")).otherwise(0))
        .cast("bigint").alias("n_correct"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return (
        cells.crossJoin(F.broadcast(m))
        .select(
            "lang_pred", "lang_actual", "n",
            round_half_up(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
            ).alias("precision_en"),
            round_half_up(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6
            ).alias("recall_en"),
            round_half_up(
                F.lit(2.0) * F.col("tp")
                / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn")),
                6,
            ).alias("f1_en"),
            round_half_up(
                F.col("n_correct").cast("double") / F.col("n_total"), 6
            ).alias("accuracy_binarized"),
        )
        .orderBy("lang_pred", "lang_actual")
    )


@query(
    "q_text_js_divergence",
    oracle=r"""
    WITH toks AS (
      SELECT CAST(substr(source, 4) AS INTEGER) % 2 AS pool,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents
    ), cnt AS (
      SELECT term,
             CAST(count(*) FILTER (WHERE pool = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE pool = 1) AS BIGINT) AS n_b
      FROM toks WHERE term <> '' GROUP BY term
    ), tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ), frac AS (
      SELECT term, n_a, n_b,
             (n_a + 0.5) / (ta + 0.5 * v) AS p,
             (n_b + 0.5) / (tb + 0.5 * v) AS q
      FROM cnt CROSS JOIN tot
    )
    SELECT term, n_a, n_b,
           floor(p * 1000000 + 0.5) / 1000000.0 AS p_a,
           floor(q * 1000000 + 0.5) / 1000000.0 AS q_b,
           floor((0.5 * p * ln(2.0 * p / (p + q))
                  + 0.5 * q * ln(2.0 * q / (p + q))) / ln(2.0)
                 * 1000000 + 0.5) / 1000000.0 AS js_term_bits,
           floor(sum(0.5 * p * ln(2.0 * p / (p + q))
                     + 0.5 * q * ln(2.0 * q / (p + q))) OVER () / ln(2.0)
                 * 1000000 + 0.5) / 1000000.0 AS js_total_bits
    FROM frac
    ORDER BY term
    """,
)
def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between two source pools' unigram
    distributions (in bits) — the text twin of q_quality_psi_drift:
    symmetric, bounded [0, 1], defined even for disjoint supports
    (unlike KL), with the same Laplace-(+½) smoothing discipline.
    Per-term contributions are emitted alongside the total — the
    decomposition says WHICH vocabulary drives a divergence, which is
    what a corpus-mixing decision actually reads.  On this fixture
    the pools split a shared synthetic vocabulary at random:
    JS ≈ 0.0008 bits, i.e. "no drift", and the near-zero answer is
    the correct one.

    Shape: one conditional-aggregation pass to per-term pool counts
    (vocabulary-sized, the bound every operator in this file works
    under), totals and the JS fold as windows over that table.
    Smoothed fractions are integer-derived ratios → HALF_UP 6 dp; ln
    is the only libm exposure; identical expression trees in both
    dialects.
    """
    from i3cols_spark.functions.rounding import round_half_up

    docs = table(spark, sf_dir, "documents")
    pool = F.pmod(F.substring("source", 4, 10).cast("int"), F.lit(2))
    cnt = (
        docs.select(pool.alias("pool"), F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count(F.when(F.col("pool") == 0, 1)).cast("bigint").alias("n_a"),
            F.count(F.when(F.col("pool") == 1, 1)).cast("bigint").alias("n_b"),
        )
    )
    w_all = W.partitionBy()
    p = (F.col("n_a") + F.lit(0.5)) / (
        F.sum("n_a").over(w_all) + F.lit(0.5) * F.count(F.lit(1)).over(w_all)
    )
    q = (F.col("n_b") + F.lit(0.5)) / (
        F.sum("n_b").over(w_all) + F.lit(0.5) * F.count(F.lit(1)).over(w_all)
    )
    ln2 = F.log(F.lit(2.0))
    term_js = (
        F.lit(0.5) * p * F.log(F.lit(2.0) * p / (p + q))
        + F.lit(0.5) * q * F.log(F.lit(2.0) * q / (p + q))
    ) / ln2
    return (
        cnt.select(
            "term", "n_a", "n_b",
            round_half_up(p, 6).alias("p_a"),
            round_half_up(q, 6).alias("q_b"),
            round_half_up(term_js, 6).alias("js_term_bits"),
            round_half_up(F.sum(term_js * ln2).over(w_all) / ln2, 6)
            .alias("js_total_bits"),
        )
        .orderBy("term")
    )


#: BM25 parameters (the Robertson/Lucene defaults) and the result size.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 10
_BM25_QTERMS = 3


#: The BM25 scored-frame CTE chain (tok → … → scored), shared verbatim
#: by the q_text_bm25_search oracle and the hybrid-RRF fusion oracle
#: (operators/similarity.py) so both dialects score identically.
BM25_SCORED_SQL = f"""tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
    ),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    qterms AS (
        SELECT term, df FROM df ORDER BY df DESC, term LIMIT {_BM25_QTERMS}
    ),
    scored AS (
        SELECT t.doc_id,
               sum(
                   ln((corpus.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                   * (t.tf * CAST({_BM25_K1 + 1} AS DOUBLE))
                   / (t.tf + CAST({_BM25_K1} AS DOUBLE)
                      * (1.0 - CAST({_BM25_B} AS DOUBLE)
                         + CAST({_BM25_B} AS DOUBLE) * d.len / corpus.avgdl))
               ) AS score,
               CAST(count(*) AS BIGINT) AS n_match
        FROM tf t
        JOIN qterms q ON t.term = q.term
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN corpus
        GROUP BY t.doc_id
    )"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 scored frame ``(doc_id, score double, n_match long)``
    over the self-contained query (the {_BM25_QTERMS} highest-df
    terms) — the shared engine behind q_text_bm25_search (top-10 cut)
    and the hybrid-RRF fusion ranker (top-{{depth}} cut,
    operators/similarity.py).  See q_text_bm25_search for scoring,
    determinism and plan-shape discussion."""
    from i3cols_spark.functions.text import tokens

    docs = spread(table(spark, sf_dir, "documents"), spark)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).transform(materialize)
    # |d| = Σ tf over the doc's terms — derived from the materialised
    # aggregate, NOT a second pass over the raw text.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("len"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = df_.orderBy(F.desc("df"), F.asc("term")).limit(_BM25_QTERMS)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("len") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * (F.col("tf") * F.lit(_BM25_K1 + 1)) / denom).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_match"),
        )
    )


@query(
    "q_text_bm25_search",
    oracle=f"""
    WITH {BM25_SCORED_SQL}
    SELECT doc_id,
           floor(score * 1000000 + 0.5) / 1000000.0 AS bm25,
           n_match
    FROM scored
    ORDER BY floor(score * 1000000 + 0.5) / 1000000.0 DESC, doc_id
    LIMIT {_BM25_TOPN}
    """,
)
def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson et al., the Lucene-default
    scoring) — the SEARCH-relevance member of the text family that
    TF-IDF (q_tfidf_topterms) only approximates: per query term,
    IDF = ln((N − df + ½)/(df + ½) + 1) weighted by the saturating
    tf/(tf + k1·(1 − b + b·|d|/avgdl)) term, summed per document,
    top-10 by rounded score.  The query is self-contained and scales
    with the corpus: the 3 highest-df terms (ties alphabetical), so
    no hand-pinned vocabulary goes stale when the fixture grows.

    Determinism: tf/df/|d| are exact integers, avgdl is one exact
    integer ratio, and ln is the only libm surface (≤1 ulp, absorbed
    by HALF_UP 6 dp on the ≤3-term sum — the multi-term float-sum
    rule); the top-10 orders on the ROUNDED score with doc_id
    tie-break so both engines cut the same list.

    Scale shape: ONE tokenize pass feeds ONE corpus-sized shuffle (the
    tf groupBy), materialised and reused by all four consumers —
    document length is Σtf per doc, df/qterms/corpus stats are
    vocabulary- or 1-row aggregates OF tf, and the per-doc score join
    touches only documents containing a query term (the
    inverted-index access pattern, ~|postings| not |corpus|).
    Without the checkpoint, the unshared lineage re-tokenized and
    re-shuffled the corpus once per consumer AND sorted two
    corpus-sized join inputs — a single unfixed x100 run did not
    finish inside the 9.5-minute probe budget; checkpointed, the same
    run is 16 s (measured back-to-back in one session, round 9).
    """
    from i3cols_spark.functions.rounding import round_half_up

    scored = bm25_scored(spark, sf_dir)
    return (
        scored.select(
            "doc_id",
            round_half_up(F.col("score"), 6).alias("bm25"),
            "n_match",
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPN)
    )


#: BPE learner knobs: merge rounds, the symbol-wrap marker (0x1f,
#: a control char absent from the ASCII-printable fixture text), and
#: how many rounds the word table's lineage may grow between cuts.
_BPE_ROUNDS = 4
_BPE_M = "\x1f"
_BPE_CHECKPOINT_EVERY = 8


def _bpe_learn_ctes(rounds: int) -> list[str]:
    """The unrolled learner CTE chain (w0 → b{r}/w{r} per round) as a
    LIST of parts both oracle builders assemble directly — no string
    surgery on assembled SQL (the old
    ``learn.rindex("SELECT CAST(1")`` slice also matched
    ``SELECT CAST(10`` and would silently mis-slice past 9 rounds).

    The w0 word table filters empty words: ``tokens()`` emits '' for
    empty/whitespace-only text, and an empty word's symbol sequence
    diverges cross-engine (Spark's sequence(0, -1) is the
    DESCENDING [0, -1] → a phantom pair; DuckDB's range(0) is empty).
    The Spark learner applies the identical filter."""
    m = "chr(31)"
    parts = [
        """w0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt,
               array_to_string(list_transform(range(length(word)), i ->
                   chr(31) || substring(word, CAST(i + 1 AS INTEGER), 1)
                   || chr(31)), '') AS seq
        FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                AS word
            FROM documents
        ) toks
        WHERE word <> ''
        GROUP BY word
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS MATERIALIZED (
        SELECT s1, s2, CAST(sum(cnt) AS BIGINT) AS freq
        FROM (
            SELECT cnt, syms[i + 1] AS s1, syms[i + 2] AS s2
            FROM (
                SELECT cnt,
                       string_split(substring(seq, 2, length(seq) - 2),
                                    {m} || {m}) AS syms
                FROM w{r-1}
            ) x, unnest(range(len(syms) - 1)) AS u(i)
        ) pairs
        GROUP BY s1, s2
    )"""
        )
        parts.append(
            f"""b{r} AS MATERIALIZED (
        SELECT s1, s2, freq FROM p{r} ORDER BY freq DESC, s1, s2 LIMIT 1
    )"""
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
        SELECT word, cnt,
               replace(seq,
                       (SELECT {m} || s1 || {m} || {m} || s2 || {m} FROM b{r}),
                       (SELECT {m} || s1 || s2 || {m} FROM b{r})) AS seq
        FROM w{r-1}
    )"""
        )
    return parts


def _bpe_oracle() -> str:
    parts = _bpe_learn_ctes(_BPE_ROUNDS)
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, s1, s2, freq FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ]
    return (
        "WITH " + ",\n    ".join(parts) + "\n    "
        + " UNION ALL ".join(selects) + " ORDER BY round"
    )


def bpe_learn(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int,
) -> tuple[list[tuple], DataFrame]:
    """The shared BPE learner both query twins (and any caller that
    wants a real vocabulary) run: ``rounds`` greedy merge rounds over
    the corpus word table, returning the merge trajectory rows
    ``(round, s1, s2, freq)`` and the final word table
    ``(word, cnt, seq)``.

    Cost model (the 100 TB story): learning
    is a DRIVER-COORDINATED loop — each merge round is exactly two
    Spark jobs (one vocabulary-sized pair aggregate feeding a 1-row
    top-1 collect, then a lazily-composed per-row replace), so a
    k-merge vocabulary costs 2k jobs whose inputs are the DISTINCT-
    WORD table, never the corpus (corpus size enters once, through
    the explode+count that builds w0).  Thousands of rounds are
    therefore thousands of vocabulary-sized jobs — the right shape
    for iterative learning on a cluster, with two guards that keep
    the loop healthy at depth:

    * lineage: the replace column composes lazily, so the logical
      plan grows per round; every ``_BPE_CHECKPOINT_EVERY``-th round
      and the last one ``materialize`` the word table.  8 keeps plan
      depth bounded without paying a materialization per round.
    * early exit: when no adjacent pair remains (every word fully
      merged), the loop stops — deeper budgets than the corpus
      supports terminate instead of crashing on an empty top-1.

    Empty words are filtered before sequences are built (
    Spark's ``sequence(0, -1)`` descends, minting a phantom pair the
    DuckDB oracle never sees)."""
    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    m = _BPE_M
    seq0 = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.length("word") - 1),
            lambda i: F.concat(
                F.lit(m), F.substr(F.col("word"), i + 1, F.lit(1)), F.lit(m)
            ),
        ),
        "",
    )
    w = materialize(words.select("word", "cnt", seq0.alias("seq")))
    out_rows: list[tuple] = []
    for r in range(1, rounds + 1):
        syms = F.split(
            F.substr(F.col("seq"), F.lit(2), F.length("seq") - 2), m + m
        )
        # zip each symbol with its successor (null-padded tail), so
        # the pair expansion never touches F.sequence's descending-
        # on-reversed-bounds trap for single-symbol words.
        pairs_arr = F.filter(
            F.zip_with(
                syms,
                F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1))),
                lambda a, b: F.struct(a.alias("s1"), b.alias("s2")),
            ),
            lambda p: p["s2"].isNotNull(),
        )
        pr = (
            w.select("cnt", F.explode(pairs_arr).alias("p"))
            .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
            .agg(F.sum("cnt").cast("long").alias("freq"))
        )
        top = pr.orderBy(F.desc("freq"), "s1", "s2").limit(1).collect()
        if not top:
            break  # corpus fully merged — nothing left to learn
        best = top[0]
        out_rows.append((r, best["s1"], best["s2"], int(best["freq"])))
        w = w.select(
            "word",
            "cnt",
            F.replace(
                F.col("seq"),
                F.lit(m + best["s1"] + m + m + best["s2"] + m),
                F.lit(m + best["s1"] + best["s2"] + m),
            ).alias("seq"),
        )
        if r % _BPE_CHECKPOINT_EVERY == 0 or r == rounds:
            w = materialize(w)
    return out_rows, w


@query("q_text_bpe_merges", oracle=_bpe_oracle())
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding VOCABULARY LEARNING, exactly and
    cross-engine: 4 merge rounds over the corpus word table — per
    round, count adjacent symbol pairs weighted by word frequency,
    take the most frequent pair ((freq DESC, s1, s2) tie-break),
    merge EVERY greedy-leftmost occurrence corpus-wide, repeat.  The
    output is the learned merge table (round, s1, s2, freq) — the
    artifact a tokenizer trainer ships.

    The exactness trick: symbol sequences are stored with each symbol
    WRAPPED in a 0x1f marker ("␟c␟␟a␟␟t␟"), so adjacent pair
    occurrences share no characters and one leftmost-nonoverlapping
    ``replace`` pass — identical semantics in Python, the JVM and
    DuckDB (verified on the abab/aaa cases) — IS the greedy BPE merge,
    including the run rule ("aaa" merges once).  The oracle unrolls
    all rounds as MATERIALIZED CTEs (the PCA/k-core precedent), so
    the entire learning trajectory is value-hash-checked.

    Scale shape: state is the DISTINCT-WORD table (vocabulary-sized,
    the Kneser–Ney discipline — corpus size only enters through the
    one explode+count pass that builds it); each round is one
    zip-with pair expansion (symbols-per-word bounded), one
    map-side-combined pair count, a 1-row top-1 (driver-collected
    metadata, the k-core convention), and one per-row replace.  At
    100 TB a real trainer runs thousands of rounds with the same
    per-round plan (2 jobs per merge — cost model on ``bpe_learn``);
    the 4-round budget here is the oracle's unroll bound, not an
    engine limit, and ``bpe_learn(rounds=...)`` takes any depth.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark)
    out_rows, _ = bpe_learn(spark, docs, _BPE_ROUNDS)
    return spark.createDataFrame(
        out_rows, "round bigint, s1 string, s2 string, freq bigint"
    ).orderBy("round")


def _bpe_apply_oracle() -> str:
    """Shares the learner's unrolled CTE chain (as a parts LIST from
    ``_bpe_learn_ctes`` — no slicing of assembled SQL),
    then counts per-doc tokens under the FINAL merged vocabulary."""
    m = "chr(31)"
    ctes = ",\n    ".join(_bpe_learn_ctes(_BPE_ROUNDS))
    return f"""WITH {ctes},
    wl AS MATERIALIZED (
        SELECT word,
               len(string_split(substring(seq, 2, length(seq) - 2),
                                {m} || {m})) AS n_syms
        FROM w{_BPE_ROUNDS}
    ),
    doctok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(d.word)) AS BIGINT) AS n_char_tokens,
           CAST(sum(wl.n_syms) AS BIGINT) AS n_bpe_tokens,
           floor(CAST(sum(length(d.word)) AS DOUBLE) / sum(wl.n_syms)
                 * 1000000 + 0.5) / 1000000.0 AS compression
    FROM doctok d JOIN wl ON d.word = wl.word
    GROUP BY d.doc_id
    ORDER BY d.doc_id"""


@query("q_text_bpe_tokenize", oracle=_bpe_apply_oracle())
def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE vocabulary — the tokenizer-serving half
    that pairs with q_text_bpe_merges' training half: run the same 4
    merge rounds, then tokenize every document under the final
    vocabulary and emit per-doc (word count, character-token count,
    BPE-token count, compression ratio) — the number an LLM data
    pipeline actually bills by (tokens per document under ITS OWN
    tokenizer, not a whitespace proxy like q_text_tokens).

    The oracle re-derives the merged vocabulary through the identical
    unrolled CTE chain and counts symbols per word, so training AND
    serving agree cross-engine down to each document's token count.
    Apply is vocabulary-sized work: the per-word symbol counts join
    the doc→word explode (the q_tfidf access pattern), raw text never
    re-tokenizes per merge.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark)
    m = _BPE_M
    _, w = bpe_learn(spark, docs, _BPE_ROUNDS)
    wl = w.select(
        "word",
        F.size(
            F.split(F.substr(F.col("seq"), F.lit(2), F.length("seq") - 2), m + m)
        ).alias("n_syms"),
    )
    from i3cols_spark.functions.rounding import round_half_up

    doctok = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    return (
        doctok.join(wl, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_char_tokens"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
            round_half_up(
                F.sum(F.length("word")).cast("double") / F.sum("n_syms"), 6
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


#: TF-IDF pair-similarity knobs: the document-frequency cap that prunes
#: ubiquitous terms from the vector space (the scale lever bounding
#: per-term posting fanout at C(cap, 2)) and the result size.
_TFIDF_DFCAP = 200
_TFIDF_TOPN = 20


@query(
    "q_text_tfidf_cosine",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
               )) AS term
        FROM tok
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM sh GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    vocab AS (SELECT term, df FROM df WHERE df <= {_TFIDF_DFCAP}),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    w AS MATERIALIZED (
        SELECT t.doc_id, t.term,
               t.tf * ln(CAST(nd.n_docs AS DOUBLE) / v.df) AS w
        FROM tf t JOIN vocab v ON t.term = v.term CROSS JOIN nd
    ),
    norms AS (
        SELECT doc_id, round(sum(w * w), 9) AS n2 FROM w GROUP BY doc_id
    ),
    num AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(sum(a.w * b.w), 9) AS num,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           round(num / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_sim
    FROM num
    JOIN norms na ON na.doc_id = num.doc_a
    JOIN norms nb ON nb.doc_id = num.doc_b
    ORDER BY cos_sim DESC, doc_a, doc_b
    LIMIT {_TFIDF_TOPN}
    """,
)
def q_text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity — top-20 most similar document
    pairs in the 3-gram-shingle vector space, w(d, t) = tf · ln(N/df).
    The LEXICAL near-duplicate/similar-content ranker that sits
    between set Jaccard (q_dedup_ngram_jaccard — unweighted) and dense
    embedding cosine (q_similarity_pairs_threshold — needs vectors):
    rare shared phrases dominate the score, ubiquitous boilerplate
    contributes nothing.

    Terms are word 3-grams, NOT unigrams, by design: this fixture's
    unigram vocabulary is 31 tokens with df ≈ 0.8 N — a unigram
    posting join would be all-pairs quadratic — while shingle df
    maxes at 25 (sf0.1).  The df cap (≤ 200, _TFIDF_DFCAP) makes that a
    GUARANTEE rather than an observation: vector space = terms with
    df ≤ cap, so per-term posting fanout is bounded by C(cap, 2) and
    stop-phrases drop out of the space entirely (they carry ≈ 0
    idf weight anyway — the cap discards what TF-IDF already
    ignores).

    Shape: stage 0 COLLAPSES EXACT-DUPLICATE TEXTS (the standing
    dedup.py rule — the uncollapsed posting join measured 8.7× at a
    10×-replicated probe because every df, and so every Σ C(df, 2),
    multiplies with the duplication factor; collapsed, quadratic work
    runs over DISTINCT texts only and duplication is pure output
    expansion).  df still counts member DOCUMENTS (Σ group size per
    term) so the weights are unchanged.  Then ONE shingle pass → tf
    groupBy over reps; the weighted posting table is
    materialised (three consumers: norms + both self-join sides
    — the q_text_bm25_search lineage lesson); rep pairs materialize
    only for reps sharing a capped term (inverted-index access,
    Σ_t C(df_t, 2) rows, 1.3 M at sf0.1); member expansion emits
    cross pairs at the rep cosine and intra-group pairs at exactly
    1.0 (identical vectors; groups with an empty capped vector are
    excluded — their cosine is undefined in the oracle too).
    Cross-engine FP: Σw² and Σw_a·w_b are multi-term float sums →
    rounded 9 dp in both dialects before the per-row ratio, final
    cosine 6 dp (identical-text pairs: num ≡ n2, so the ratio is
    1/(1+ε), ε ≤ 2 ulp — rounds to exactly 1.0).
    """
    from i3cols_spark.functions.arrays import member_pairs, pair_structs
    from i3cols_spark.functions.text import normalize, shingles_all

    docs = spread(table(spark, sf_dir, "documents"), spark)
    grp = docs.groupBy(F.xxhash64(normalize(F.col("text"))).alias("th")).agg(
        F.min("doc_id").alias("rep"),
        F.sort_array(F.collect_list("doc_id")).alias("ids"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.first("text").alias("text"),
    )
    sh = grp.select(
        "rep", "cnt", F.explode(shingles_all("text")).alias("term")
    )
    tf = sh.groupBy("rep", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.first("cnt").alias("cnt"),
    )
    df_ = tf.groupBy("term").agg(F.sum("cnt").cast("long").alias("df"))
    vocab = df_.filter(F.col("df") <= _TFIDF_DFCAP)
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "rep",
            "term",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("w"),
        )
        .transform(materialize)
    )
    norms = w.groupBy("rep").agg(
        F.round(F.sum(F.col("w") * F.col("w")), 9).alias("n2"),
        F.count(F.lit(1)).cast("long").alias("nterms"),
    )
    a, b = w.alias("a"), w.alias("b")
    num = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .groupBy(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .agg(
            F.round(F.sum(F.col("a.w") * F.col("b.w")), 9).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    na = norms.select(F.col("rep").alias("rep_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("rep").alias("rep_b"), F.col("n2").alias("n2b"))
    rep_sims = (
        num.join(na, "rep_a")
        .join(nb, "rep_b")
        .select(
            "rep_a",
            "rep_b",
            "n_shared",
            F.round(
                F.col("num") / (F.sqrt("n2a") * F.sqrt("n2b")), 6
            ).alias("cos_sim"),
        )
    )
    cross = member_pairs(rep_sims, grp)
    intra = (
        grp.filter(F.col("cnt") >= 2)
        .join(norms.select("rep", "nterms"), "rep")
        .select(
            F.explode(pair_structs(F.col("ids"), "doc_a", "doc_b")).alias("p"),
            "nterms",
        )
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("nterms").alias("n_shared"),
            F.lit(1.0).alias("cos_sim"),
        )
    )
    return (
        cross.unionByName(intra)
        .orderBy(F.desc("cos_sim"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(_TFIDF_TOPN)
    )


#: Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
#: Models: ... Gopher", Table A1 — the published repetition-free
#: document filters every production curation stack reimplements).
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")


@query(
    "q_text_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lower(trim(text)) AS txt,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> '') AS toks
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(toks, w -> length(w)))
                    AS BIGINT) AS sum_wlen,
               CAST(len(list_filter(toks,
                    w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
                   AS n_alpha,
               CAST((length(txt) - length(replace(txt, '#', '')))
                    + (length(txt) - length(replace(txt, '...', ''))) / 3
                    AS BIGINT) AS n_sym,
               CAST(len(list_intersect(list_distinct(toks),
                    {list(_GOPHER_STOPWORDS)!r})) AS BIGINT) AS n_stop
        FROM t
    )
    SELECT doc_id, n_words,
           floor(CAST(sum_wlen AS DOUBLE) / n_words * 1000000 + 0.5)
               / 1000000.0 AS mean_wlen,
           floor(CAST(n_alpha AS DOUBLE) / n_words * 1000000 + 0.5)
               / 1000000.0 AS frac_alpha,
           floor(CAST(n_sym AS DOUBLE) / n_words * 1000000 + 0.5)
               / 1000000.0 AS sym_ratio,
           n_stop,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
           AND (floor(CAST(sum_wlen AS DOUBLE) / n_words * 1000000 + 0.5)
                / 1000000.0 BETWEEN 3 AND 10)
           AND (floor(CAST(n_sym AS DOUBLE) / n_words * 1000000 + 0.5)
                / 1000000.0 <= 0.1)
           AND (floor(CAST(n_alpha AS DOUBLE) / n_words * 1000000 + 0.5)
                / 1000000.0 >= 0.8)
           AND n_stop >= 2 AS keep
    FROM feat
    WHERE n_words > 0
    ORDER BY doc_id
    """,
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021) — the published
    heuristic filter suite production LLM curation runs before any
    model-based scoring: word count in [50, 100 000], mean word
    length in [3, 10], symbol-to-word ratio (# and …) ≤ 0.1, ≥ 80 %
    of words contain an alphabetic character, ≥ 2 distinct stopwords
    present.  Output = per-document feature values + the fused
    ``keep`` verdict, so a pipeline can either filter on ``keep`` or
    re-threshold the features.

    Entirely per-row: every feature is in-row token-array arithmetic
    (fold for Σ word length, filter for alpha-words, array_intersect
    for stopwords, replace-count for symbols) — zero shuffles beyond
    the scan, embarrassingly parallel at any corpus size, and the
    whole filter fuses into the scan stage of whatever pipeline
    consumes it.  All ratios are exact-integer ratios → HALF_UP 6 dp
    (functions/rounding.py) in both dialects; rule booleans compare
    the ROUNDED values so both engines decide identically.
    """
    from i3cols_spark.functions.rounding import round_half_up
    from i3cols_spark.functions.text import normalize

    docs = spread(table(spark, sf_dir, "documents"), spark)
    txt = normalize(F.col("text"))
    toks = F.filter(F.split(txt, r"\s+"), lambda w: w != "")
    n_words = F.size(toks).cast("long")
    sum_wlen = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("long")
    n_sym = (
        (F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit(""))))
        + (F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    ).cast("long")
    feat = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_wlen.alias("sum_wlen"),
        n_alpha.alias("n_alpha"),
        n_sym.alias("n_sym"),
        n_stop.alias("n_stop"),
    ).filter(F.col("n_words") > 0)
    mean_wlen = round_half_up(
        F.col("sum_wlen").cast("double") / F.col("n_words"), 6
    )
    frac_alpha = round_half_up(
        F.col("n_alpha").cast("double") / F.col("n_words"), 6
    )
    sym_ratio = round_half_up(
        F.col("n_sym").cast("double") / F.col("n_words"), 6
    )
    keep = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & mean_wlen.between(3, 10)
        & (sym_ratio <= 0.1)
        & (frac_alpha >= 0.8)
        & (F.col("n_stop") >= 2)
    )
    return feat.select(
        "doc_id",
        "n_words",
        mean_wlen.alias("mean_wlen"),
        frac_alpha.alias("frac_alpha"),
        sym_ratio.alias("sym_ratio"),
        "n_stop",
        keep.alias("keep"),
    ).orderBy("doc_id")


@query(
    "q_text_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT doc_id, unnest(shs) AS term
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                   )) AS shs
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+') AS toks
                  FROM documents)
        )
    ),
    fst AS (
        SELECT term, min(doc_id) AS first_doc FROM sh GROUP BY term
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000.0
               AS novelty
    FROM sh s JOIN fst f ON f.term = s.term
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the fraction of a document's
    distinct 3-gram shingles whose FIRST corpus occurrence (min
    doc_id, i.e. ingestion order) is this document.  The freshness /
    diversity diagnostic of incremental corpus growth: a crawl batch
    whose novelty collapses toward 0 is re-crawling what the corpus
    already holds, long before any pairwise dedup runs — this is the
    cheap linear-time signal that GATES the quadratic near-dup
    machinery.

    Shape: stage 0 collapses exact-duplicate texts (standing rule;
    the uncollapsed form measured 4.0× at a 10× replication probe).
    The collapse is EXACT here, not just an optimization, because
    first-occurrence ids compose: a term's first doc is the min over
    groups containing it of the group's min member (= the rep id),
    so only reps can be novel — members inherit n_shingles and score
    n_novel = 0.  Then one rep-level shingle pass → min-aggregate
    per shingle (vocabulary-sized shuffle, map-side combined) →
    re-join the exploded rep stream on shingle, reduce per rep, and
    expand members arithmetically.  Both shuffles are linear in
    Σ|distinct-text shingles| and the join key is the shingle, so
    AQE handles frequent-shingle skew.  All outputs are exact
    integers and one exact-integer ratio → HALF_UP 6 dp.
    """
    from i3cols_spark.functions.rounding import round_half_up
    from i3cols_spark.functions.text import normalize, shingles

    docs = spread(table(spark, sf_dir, "documents"), spark)
    grp = docs.groupBy(F.xxhash64(normalize(F.col("text"))).alias("th")).agg(
        F.min("doc_id").alias("rep"),
        F.sort_array(F.collect_list("doc_id")).alias("ids"),
        F.first("text").alias("text"),
    )
    sh = grp.select("rep", F.explode(shingles("text")).alias("term"))
    fst = sh.groupBy("term").agg(F.min("rep").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("rep"), 1).otherwise(0)
    ).cast("long")
    rep_stats = (
        sh.join(fst, "term")
        .groupBy("rep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.alias("n_novel"),
        )
    )
    per_doc = (
        grp.select("rep", F.explode("ids").alias("doc_id"))
        .join(rep_stats, "rep")
        .select(
            "doc_id",
            "n_shingles",
            F.when(F.col("doc_id") == F.col("rep"), F.col("n_novel"))
            .otherwise(F.lit(0).cast("long"))
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        round_half_up(
            F.col("n_novel").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty"),
    ).orderBy("doc_id")


@query(
    "q_text_heaps_law",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
               )) AS term
        FROM tok
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
    ),
    fst AS (SELECT term, min(doc_id) AS first_doc FROM sh GROUP BY term),
    cps AS (
        SELECT CAST(c.c AS BIGINT) AS decile,
               CAST(floor(CAST(nd.n AS DOUBLE) * c.c / 10) AS BIGINT) AS cutoff
        FROM range(1, 11) c(c), nd
    ),
    pts AS (
        SELECT cp.decile,
               (SELECT CAST(sum(n_sh) AS BIGINT) FROM per_doc
                WHERE doc_id < cp.cutoff) AS n_tokens,
               (SELECT CAST(count(*) AS BIGINT) FROM fst
                WHERE first_doc < cp.cutoff) AS n_vocab
        FROM cps cp
    ),
    logs AS (
        SELECT decile, n_tokens, n_vocab,
               ln(CAST(n_tokens AS DOUBLE)) AS lt,
               ln(CAST(n_vocab AS DOUBLE)) AS lv
        FROM pts WHERE n_tokens > 0 AND n_vocab > 0
    ),
    fit AS (
        SELECT round(
                   (avg(lt * lv) - avg(lt) * avg(lv))
                   / (avg(lt * lt) - avg(lt) * avg(lt)), 9) AS beta,
               round(avg(lv), 9) AS mlv,
               round(avg(lt), 9) AS mlt
        FROM logs
    )
    SELECT l.decile, l.n_tokens, l.n_vocab,
           round(f.beta, 6) AS heaps_beta,
           round(exp(f.mlv - f.beta * f.mlt), 6) AS heaps_k
    FROM logs l, fit f
    ORDER BY l.decile
    """,
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve + Heaps'-law fit — distinct 3-gram
    shingle types V against shingle tokens T at ten ingestion-order
    checkpoints (doc_id deciles), with the V = K·T^β log-log OLS fit
    broadcast onto every row.  The corpus-planning diagnostic behind
    "how much NEW content does the next crawl decile buy?" — the
    macro (curve-level) companion of q_text_ngram_novelty's per-doc
    signal, and the empirical basis for sizing dedup/vocab budgets
    before a 100 TB ingest.

    Shape: one shingle pass feeds BOTH per-doc token counts (doc-
    sized) and first-occurrence ids (vocabulary-sized, min-aggregate);
    the ten checkpoints are a literal range joined against those two
    small tables (cumulative counts via range-join aggregation, never
    a re-scan per decile); the OLS fold is over ≤ 10 rows.  Counts
    are exact integers; ln/exp touch libm once each → fit moments
    rounded 9 dp, outputs 6 dp in both dialects.
    """
    from i3cols_spark.functions.text import shingles_all

    docs = spread(table(spark, sf_dir, "documents"), spark)
    sh = docs.select("doc_id", F.explode(shingles_all("text")).alias("term"))
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    fst = sh.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    cps = (
        spark.range(1, 11)
        .select(F.col("id").alias("decile"))
        .crossJoin(F.broadcast(nd))
        .select(
            "decile",
            F.floor(F.col("n").cast("double") * F.col("decile") / 10)
            .cast("long")
            .alias("cutoff"),
        )
    )
    n_tokens = (
        cps.join(per_doc, per_doc.doc_id < cps.cutoff)
        .groupBy("decile")
        .agg(F.sum("n_sh").cast("long").alias("n_tokens"))
    )
    n_vocab = (
        cps.join(fst, fst.first_doc < cps.cutoff)
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    )
    logs = (
        n_tokens.join(n_vocab, "decile")
        .filter((F.col("n_tokens") > 0) & (F.col("n_vocab") > 0))
        .select(
            "decile",
            "n_tokens",
            "n_vocab",
            F.log(F.col("n_tokens").cast("double")).alias("lt"),
            F.log(F.col("n_vocab").cast("double")).alias("lv"),
        )
    )
    fit = logs.agg(
        F.round(
            (F.avg(F.col("lt") * F.col("lv")) - F.avg("lt") * F.avg("lv"))
            / (F.avg(F.col("lt") * F.col("lt")) - F.avg("lt") * F.avg("lt")),
            9,
        ).alias("beta"),
        F.round(F.avg("lv"), 9).alias("mlv"),
        F.round(F.avg("lt"), 9).alias("mlt"),
    )
    return (
        logs.crossJoin(F.broadcast(fit))
        .select(
            "decile",
            "n_tokens",
            "n_vocab",
            F.round(F.col("beta"), 6).alias("heaps_beta"),
            F.round(
                F.exp(F.col("mlv") - F.col("beta") * F.col("mlt")), 6
            ).alias("heaps_k"),
        )
        .orderBy("decile")
    )


#: RAKE configuration.  The stopword list is the phrase DELIMITER set
#: (only 'the'/'a' occur in the fixture vocabulary; the rest are
#: standard members kept for real corpora); runs longer than
#: _RAKE_MAX_LEN words are discarded as non-keyphrases (sparse-
#: stopword texts otherwise yield sentence-length "phrases").
_RAKE_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_RAKE_MAX_LEN = 4
_RAKE_TOPK = 20
_RAKE_STOP_SQL = ", ".join(f"'{s}'" for s in _RAKE_STOPWORDS)


@query(
    "q_text_rake_keywords",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, u.i AS idx, u.tok
      FROM (SELECT doc_id,
                   unnest(list_transform(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       (x, i) -> {{'tok': x, 'i': i}})) AS u
            FROM documents)
    ), runs AS (
      SELECT doc_id, idx, tok,
             idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx)
                 AS grp
      FROM words WHERE tok NOT IN ({_RAKE_STOP_SQL})
    ), ph AS (
      SELECT doc_id, grp, idx, tok,
             count(*) OVER (PARTITION BY doc_id, grp) AS phrase_len
      FROM runs
    ), capped AS (
      SELECT * FROM ph WHERE phrase_len <= {_RAKE_MAX_LEN}
    ), ws AS (
      SELECT tok,
             CAST(floor(sum(phrase_len) * 1000000.0 / count(*) + 0.5)
                  AS BIGINT) AS ws_u
      FROM capped GROUP BY tok
    ), phrases AS (
      SELECT c.doc_id, c.grp,
             string_agg(c.tok, ' ' ORDER BY c.idx) AS phrase,
             CAST(min(c.phrase_len) AS BIGINT) AS n_words,
             CAST(sum(w.ws_u) AS BIGINT) AS score_u
      FROM capped c JOIN ws w ON w.tok = c.tok
      GROUP BY c.doc_id, c.grp
    ), corpus AS (
      SELECT phrase, min(n_words) AS n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             min(score_u) AS score_u
      FROM phrases GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences,
           score_u / 1000000.0 AS score
    FROM (SELECT *, row_number() OVER (ORDER BY score_u DESC, phrase)
                        AS rk
          FROM corpus)
    WHERE rk <= {_RAKE_TOPK}
    ORDER BY score DESC, phrase
    """,
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (<= _RAKE_MAX_LEN words);
    each
    word scores deg(w)/freq(w) over the candidate corpus (deg = Σ of
    containing-phrase lengths — co-occurrence degree including self);
    a phrase scores the SUM of its word scores; output is the corpus
    top-_RAKE_TOPK phrases.  This is the unsupervised keyphrase
    extractor
    pipelines run where TF-IDF (q_tfidf_topterms) ranks single terms
    and PMI/LLR (q_text_*_collocations) rank exactly-2-gram pairs —
    RAKE is the variable-length-phrase member of the family.

    Determinism/exactness: word scores deg/freq are ratios of exact
    integers, micro-int-quantized (floor(x·10⁶+0.5)) BEFORE the
    per-phrase sum so phrase scores stay exact BIGINTs regardless of
    float summation order; the top-k rank orders by (score_u DESC,
    phrase ASC) — a total integer/string order, no float ties.

    Scale shape: tokenize-explode (the one data-sized pass), a
    row_number island window per doc (the q_window_islands pattern),
    one vocabulary-sized word-score aggregate joined back broadcast-
    style, a phrase-sized aggregate, and the final top-k over the
    DISTINCT-phrase table — everything after the explode is bounded
    by vocabulary/phrase counts, not corpus size.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark)
    words = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("idx", "tok")
    )
    stop = list(_RAKE_STOPWORDS)
    runs = words.filter(~F.col("tok").isin(stop)).withColumn(
        "grp",
        F.col("idx")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("idx")),
    )
    ph = runs.withColumn(
        "phrase_len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "grp"))
    )
    capped = ph.filter(F.col("phrase_len") <= _RAKE_MAX_LEN)
    ws = capped.groupBy("tok").agg(
        F.floor(
            F.sum("phrase_len") * F.lit(1000000.0) / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ws_u")
    )
    phrases = (
        capped.join(ws, "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("idx", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.min("phrase_len").cast("long").alias("n_words"),
            F.sum("ws_u").cast("long").alias("score_u"),
        )
    )
    corpus = phrases.groupBy("phrase").agg(
        F.min("n_words").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.min("score_u").alias("score_u"),
    )
    ranked = corpus.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.desc("score_u"), F.asc("phrase"))
        ),
    )
    return (
        ranked.filter(F.col("rk") <= _RAKE_TOPK)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("score_u") / F.lit(1000000.0)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
    )


@query(
    "q_text_burstiness",
    oracle="""
    WITH tot AS (
      SELECT CAST(count(*) AS BIGINT) AS d FROM documents
    ), tc AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ), stats AS (
      SELECT tok,
             CAST(sum(c) AS BIGINT) AS total_count,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(c * c) AS BIGINT) AS sumsq
      FROM tc GROUP BY tok
    )
    SELECT tok AS word, total_count, n_docs,
           floor(n_docs * 1.0 / t.d * 1000000 + 0.5) / 1000000.0
               AS doc_freq,
           floor((t.d * sumsq - total_count * total_count)
                 / (CAST(t.d AS DOUBLE) * total_count)
                 * 1000000 + 0.5) / 1000000.0 AS vmr
    FROM (SELECT *,
                 row_number() OVER (ORDER BY total_count DESC, tok) AS rk
          FROM stats) s CROSS JOIN tot t
    WHERE rk <= 50
    ORDER BY total_count DESC, word
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): the variance-to-mean ratio
    (VMR, index of dispersion) of each word's per-document count over
    ALL documents (zeros included), for the corpus top-50 words.
    VMR ≈ 1 means Poisson scatter (function words: 'the', 'a'); VMR
    >> 1 means the word CLUMPS into few documents (topical words) —
    the signal that separates content terms from glue at EQUAL total
    frequency, complementing the corpus-shape fits (q_text_zipf_fit,
    q_text_heaps_law) with a per-term dispersion diagnostic.

    Exactness: with D docs, total T = Σc and S = Σc², population
    variance over all D docs is (S − T²/D)/D and the mean is T/D, so
    VMR = (D·S − T²)/(D·T) — kept in BIGINT until the single final
    division → HALF_UP 6 dp (T² ≤ 9·10¹⁸ holds far beyond any real
    vocabulary's top terms; the subtraction is exact).

    Scale shape: one tokenize-explode into a map-side-combined
    (doc, token) count, one vocabulary-sized stats aggregate, a 1-row
    doc-count broadcast, top-50 rank on the vocabulary table.  The
    all-docs variance needs NO per-doc zero rows — zeros enter through
    the closed form, which is what makes the op linear.
    """
    docs = spread(table(spark, sf_dir, "documents"), spark)
    d = docs.agg(F.count(F.lit(1)).cast("long").alias("d"))
    tc = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    stats = tc.groupBy("tok").agg(
        F.sum("c").cast("long").alias("total_count"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sumsq"),
    )
    ranked = stats.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("total_count"), F.asc("tok"))),
    ).filter(F.col("rk") <= 50)
    return (
        ranked.crossJoin(F.broadcast(d))
        .select(
            F.col("tok").alias("word"),
            "total_count",
            "n_docs",
            round_half_up(F.col("n_docs") * 1.0 / F.col("d"), 6).alias(
                "doc_freq"
            ),
            round_half_up(
                (
                    F.col("d") * F.col("sumsq")
                    - F.col("total_count") * F.col("total_count")
                )
                / (F.col("d").cast("double") * F.col("total_count")),
                6,
            ).alias("vmr"),
        )
        .orderBy(F.desc("total_count"), F.asc("word"))
    )


@query(
    "q_text_ttr_diversity",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, lang,
             len(toks) AS n_tok,
             len(list_distinct(toks)) AS n_types
      FROM (SELECT doc_id, lang,
                   string_split_regex(lower(trim(text)), '\s+') AS toks
            FROM documents)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_types) AS BIGINT) AS n_types_sum,
           floor(sum(n_types) * 1.0 / sum(n_tok) * 1000000 + 0.5)
               / 1000000.0 AS pooled_ttr,
           floor(min(n_types * 1.0 / n_tok) * 1000000 + 0.5) / 1000000.0
               AS min_doc_ttr,
           CAST(sum(CASE WHEN n_types * 2 < n_tok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_diversity
    FROM tk
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_ttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity (type-token ratio) profile per language —
    the classic repetitive-text quality signal the Gopher-rule family
    (q_text_gopher_rules, q_text_repetition) approximates with
    character ratios: per doc, distinct-token count over token count;
    per language, the pooled TTR, the worst doc, and how many docs
    fall under the TTR < 0.5 "half the words are repeats" screen a
    curation pass would flag.

    Cross-engine exactness: n_tok / n_types are exact per-row
    integers (one in-row split + array_distinct, no explode, no
    shuffle of token rows); every emitted ratio is a single integer
    ratio → HALF_UP 6 dp — min_doc_ttr picks the minimum of exact
    per-row ratios BEFORE rounding, identical in both engines since
    per-row IEEE division is bit-exact.

    Scale shape: the whole profile is one in-row projection + one
    map-side-combined per-lang aggregate — |langs| reduce rows, the
    cheapest possible shape for a corpus-wide quality readout.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    tk = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )
    return (
        tk.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_types").cast("long").alias("n_types_sum"),
            round_half_up(
                F.sum("n_types") * 1.0 / F.sum("n_tok"), 6
            ).alias("pooled_ttr"),
            round_half_up(
                F.min(F.col("n_types") * 1.0 / F.col("n_tok")), 6
            ).alias("min_doc_ttr"),
            F.sum(
                F.when(F.col("n_types") * 2 < F.col("n_tok"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_low_diversity"),
        )
        .orderBy("lang")
    )
