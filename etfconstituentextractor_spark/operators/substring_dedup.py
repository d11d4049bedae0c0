"""Exact substring-span dedup statistics (repeated-n-gram detection) —
the sub-document half of exact deduplication (SURVEY.md §2B
"LLM-pipeline — dedup": whole-doc and prefix hashing are q60's
original legs; this operator finds VERBATIM REPEATED SPANS across the
corpus, the signal behind substring-level training-data dedup à la
"Deduplicating Training Data Makes Language Models Better" (Lee et
al. 2022) — there via suffix arrays; here as the Spark-native
shingle-hash restatement that needs no global sort).

Construction, per document:

1. k-token shingles with their token position (one ``posexplode`` —
   the shingle text is hashed IMMEDIATELY, so only (doc_id, pos,
   md5) ever shuffles, never text);
2. a shingle is *duplicated* if its hash occurs more than once in the
   whole corpus (across docs or within one — both are verbatim
   repetition);
3. per-doc stats over the duplicated positions: count, and the number
   of TOKEN positions covered by at least one duplicated shingle —
   the union of [pos, pos+k) intervals, computed with one lag window
   per doc (first interval contributes k, each next min(k, gap));
   ``dup_token_ratio`` = covered / tokens is the drop/trim signal a
   curation pipeline thresholds on.

Scale posture: the shingle stream is a hash-per-token amplification
of the corpus, but every shuffle carries (doc_id, pos, 32-hex hash)
rows only — never text — and the stream is computed ONCE: the
duplicate mark is a count window over the hash partition (one scan,
one shuffle; the groupBy-count + self-join spelling re-derives the
stream and measured 2x slower at sf0.1). The coverage window
partitions by doc_id (bounded state). The hash-partition window is
the same shape as q60's content-hash windows; a corpus with an
ADVERSARIALLY hot shingle (one banner repeated 10^8+ times) would
hub its partition — the mitigation at that scale is the standard
hot-key split (operators/skew.py salting on h, count merged across
salts), which changes no output. The suffix-array original of this
operator is the one that does NOT distribute cleanly.

No reference counterpart (the reference never deduplicates text;
its keep-last dict is row-level, ETFQuarterlyHoldingsExtractor.py:158).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import (
    nonempty_tokens,
    spark_shingles,
    sql_shingles,
)

#: intra-document repetition n-gram width (tokens)
_REP_N = 3

#: default shingle width (tokens). 50-token shingles are the paper's
#: setting for full-scale corpora; the synthetic corpus' repeated
#: banners are shorter, and the construction is width-agnostic.
DEFAULT_K = 8


def repeated_ngram_stats(
    docs: DataFrame,
    k: int = DEFAULT_K,
) -> DataFrame:
    """(doc_id, n_dup_shingles, dup_covered_tokens) per document that
    has at least one duplicated k-shingle; docs without any produce no
    row (callers left-join and coalesce to 0 — the LM-leg contract)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toks = nonempty_tokens()
    sh = docs.select(
        F.col("doc_id"),
        F.posexplode(F.expr(spark_shingles(toks, k))).alias("pos", "s"),
    ).select("doc_id", "pos", F.md5("s").alias("h"))
    marked = (
        sh.withColumn("__n", F.count(F.lit(1)).over(W.partitionBy("h")))
        .filter(F.col("__n") > 1)
        .select("doc_id", "pos")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    contrib = F.when(gap.isNull(), F.lit(k)).otherwise(F.least(F.lit(k), gap))
    return (
        marked.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_shingles"),
            F.sum("contrib").cast("bigint").alias("dup_covered_tokens"),
        )
    )


def sql_repeated_ngram_stats(from_sql: str, k: int = DEFAULT_K) -> str:
    """DuckDB spelling of the identical construction — a CTE body
    yielding (doc_id, n_dup_shingles, dup_covered_tokens)."""
    toks = "list_filter(string_split(text, ' '), x -> x != '')"
    return f"""
    SELECT doc_id, COUNT(*) AS n_dup_shingles,
           CAST(SUM(CASE WHEN prev IS NULL THEN {k}
                    ELSE LEAST({k}, pos - prev) END) AS BIGINT) AS dup_covered_tokens
    FROM (
      SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM (
        SELECT doc_id, pos
        FROM (
          -- two parallel unnests over equal-length lists pair
          -- positionally in DuckDB: pos is the 0-based shingle index,
          -- matching Spark's posexplode
          SELECT doc_id, unnest(range(len(sh))) AS pos,
                 unnest(list_transform(sh, s -> md5(s))) AS h
          FROM (SELECT doc_id, {sql_shingles(toks, k)} AS sh FROM {from_sql})
        ) s
        JOIN (
          SELECT h FROM (
            SELECT unnest(list_transform({sql_shingles(toks, k)}, s -> md5(s))) AS h
            FROM {from_sql}
          ) GROUP BY h HAVING COUNT(*) > 1
        ) d USING (h)
      )
    )
    GROUP BY doc_id
    """


def intra_doc_repetition(
    docs: DataFrame,
    *,
    tokens_col: str | None = None,
) -> DataFrame:
    """INTRA-document repetition signals — the Gopher quality rules
    (Rae et al. 2021, §A1.1) restated token-wise on the n = ``_REP_N``
    n-gram width:
    `top{n}_cnt` is the occurrence count of the document's most
    frequent n-gram (Gopher's "fraction of characters in the most
    frequent n-gram", here over tokens — callers divide by n_tokens),
    and `dup{n}_cov` is the number of token positions covered by
    n-grams that repeat WITHIN the document (Gopher's "fraction of
    characters in duplicated n-grams"), the same fixed-width
    interval-union measure as `repeated_ngram_stats` — which is the
    CROSS-corpus version of this signal.

    Docs with at least one n-gram always get a row (top{n}_cnt >= 1);
    `dup{n}_cov` is 0 when nothing repeats. Callers left-join on
    doc_id and coalesce.

    Plan shape (round-7 rework, measured ~2x cheaper than the
    two-stream window spelling): ONE posexplode feeds ONE
    (doc_id, hash) aggregation carrying positions; both signals then
    collapse in ONE per-doc aggregation — the interval union runs as
    an in-aggregate fold over the sorted duplicated positions
    (O(occurrences log occurrences) per doc, bounded by doc length),
    so there are exactly two exchanges, no windows, and no
    double-consumed subtree. Shuffles carry (doc_id, xxhash64,
    positions) only — never text (the 8-byte intrinsic, not md5: this
    hash is a pure in-engine grouping key, absent from output and
    from the oracle, which groups by its own md5).
    """
    n = _REP_N
    # tokens_col lets callers reuse an already-tokenized (often
    # checkpointed) array instead of re-splitting text
    toks = tokens_col or nonempty_tokens()

    # xxhash64, not md5: this hash is ONLY an in-engine grouping key —
    # it never appears in output and never crosses to the oracle (the
    # DuckDB twin groups by its own md5; any collision-free keying
    # yields identical counts) — so the 8-byte JVM intrinsic beats the
    # 32-hex md5 string in both CPU and shuffle width
    sh = docs.select(
        F.col("doc_id"),
        F.posexplode(F.expr(spark_shingles(toks, n))).alias("pos", "s"),
    ).select("doc_id", "pos", F.xxhash64("s").alias("h"))
    grp = sh.groupBy("doc_id", "h").agg(
        F.count(F.lit(1)).alias("c"), F.collect_list("pos").alias("poss")
    )
    # interval union of [pos, pos+n) over sorted duplicated positions:
    # first interval contributes n, each next min(n, gap)
    cov_fold = (
        f"aggregate(array_sort(flatten(dup_poss)), "
        f"named_struct('prev', -{n}, 'tot', 0), "
        f"(acc, i) -> named_struct('prev', i, "
        f"'tot', acc.tot + least({n}, i - acc.prev)), acc -> acc.tot)"
    )
    return (
        grp.groupBy("doc_id")
        .agg(
            F.max("c").cast("bigint").alias(f"top{n}_cnt"),
            F.collect_list(F.when(F.col("c") >= 2, F.col("poss"))).alias("dup_poss"),
        )
        .select(
            "doc_id",
            f"top{n}_cnt",
            F.expr(cov_fold).cast("bigint").alias(f"dup{n}_cov"),
        )
    )


def sql_intra_doc_repetition(from_sql: str) -> str:
    """DuckDB spelling of the identical measure — a CTE body yielding
    (doc_id, top{n}_cnt, dup{n}_cov). Deliberately the RELATIONAL
    form (per-doc lag window for the interval union) rather than the
    fold: the engines must agree on results, not plans."""
    n = _REP_N
    toks = "list_filter(string_split(text, ' '), x -> x != '')"
    return f"""
    SELECT t.doc_id, t.top{n}_cnt, COALESCE(c.dup{n}_cov, 0) AS dup{n}_cov
    FROM (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top{n}_cnt
      FROM (
        SELECT doc_id, h, COUNT(*) AS c
        FROM (
          SELECT doc_id, unnest(list_transform({sql_shingles(toks, n)}, s -> md5(s))) AS h
          FROM {from_sql}
        )
        GROUP BY 1, 2
      )
      GROUP BY doc_id
    ) t
    LEFT JOIN (
      SELECT doc_id,
             CAST(SUM(CASE WHEN prev IS NULL THEN {n}
                      ELSE LEAST({n}, pos - prev) END) AS BIGINT) AS dup{n}_cov
      FROM (
        SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM (
          SELECT doc_id, pos
          FROM (
            SELECT doc_id, unnest(range(len(sh))) AS pos,
                   unnest(list_transform(sh, s -> md5(s))) AS h
            FROM (SELECT doc_id, {sql_shingles(toks, n)} AS sh FROM {from_sql})
          ) s
          QUALIFY COUNT(*) OVER (PARTITION BY doc_id, h) > 1
        )
      )
      GROUP BY doc_id
    ) c USING (doc_id)
    """
