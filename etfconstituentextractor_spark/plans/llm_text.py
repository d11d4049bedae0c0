"""Text-analysis queries over `documents` (SURVEY.md §2B
"LLM-pipeline — text analysis"; TESTDATA documents table).

Everything is built-in column expressions — at 100 TB these run inside
whole-stage codegen with zero Python. q80 computes every per-document
feature in ONE scan (quality, language-ID, fingerprints, simhash) —
the scan cost dominates at scale, so feature families share it; its
only shuffle is the simhash-bucket window. q81's token groupBy is the
module's other shuffle (partial map-side counts first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import (
    nonempty_tokens,
    LANG_STOPWORDS,
    STOPWORDS,
    hex_to_long,
    minhash,
    rolling_fingerprint,
    simhash_bits,
    spark_shingles,
    sql_hex_to_long,
    sql_minhash,
    sql_rolling_fingerprint,
    sql_shingles,
    sql_simhash_bits,
    sql_stopword_hits,
    sql_subtoken_count,
    sql_tokens,
    stopword_hits,
    subtoken_count,
    tokens,
)
from etfconstituentextractor_spark.operators.cms import sql_cms_from_counts
from etfconstituentextractor_spark.operators.contamination import ngram_contamination
from etfconstituentextractor_spark.operators.boilerplate import strip_boilerplate
from etfconstituentextractor_spark.operators.pii import PII_PATTERNS, scrub
from etfconstituentextractor_spark.operators.substring_dedup import (
    intra_doc_repetition,
    sql_intra_doc_repetition,
)
from etfconstituentextractor_spark.operators.quality_model import (
    hashed_linear_margin,
    make_weights,
    sql_hashed_linear_margin,
)
from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import fanout, load

_LANGS = ("en", "es", "de", "fr", "zh")

# stand-in for an offline-trained fastText-style quality model
# (operators/quality_model.py); deterministic, shared with the oracle
_QWEIGHTS = make_weights(64)


# ---------------------------------------------------------------------------
# q80 — per-document text statistics, one scan, four feature families:
#
# 1. quality scoring — token counts, average token length, stopword
#    ratio, punctuation ratio → composite keep/review/drop band (the
#    standard filter features of a pretraining data pipeline);
# 2. language identification — stopword-hit voting across per-language
#    wordlists, deterministic precedence on ties (the n-gram-heuristic
#    family of langid as pure column algebra);
# 3. fingerprinting — whole-doc md5, a 64-bit-ish integer fingerprint
#    (hex→int of the hash prefix), 3-shingle minhash signature;
# 4. simhash — 16-bit token-multiset signature + exact-bucket size
#    (near-dup families collapse to one signature; the window is the
#    query's only shuffle and carries doc_id + 16 chars, never text);
# 5. model scoring — fastText-style hashed unigram+bigram linear
#    margin + band (operators/quality_model.py): learned-filter
#    INFERENCE as one aggregate HOF riding the same scan; the dyadic
#    weights make the margin bit-identical across engines.
# 6. intra-document repetition — the Gopher rules (Rae et al. 2021
#    §A1.1) token-wise (operators/substring_dedup.py): most-frequent-
#    3-gram fraction + duplicated-3-gram coverage fraction (one
#    shared shingle stream — two exchanges, no windows); the
#    drop signals for machine-generated / boilerplate-looping text.
#    Shuffles carry (doc_id, pos, md5) only, joined back on doc_id.
# 7. bigram-LM perplexity (operators/lm.py, §2B row 59) — the
#    CCNet-style fluency pillar: an add-k bigram LM trained on the
#    corpus itself (counts as DataFrames, never collected) scores each
#    doc's cross-entropy/perplexity; the per-doc scores left-join back
#    on doc_id (docs under 2 tokens stay null). Adds the pair-key
#    shuffle join — the one part of q80 that cannot ride the single
#    scan, since the model is a corpus-level aggregate.
# ---------------------------------------------------------------------------
_LM_K = 0.5

# The full model construction stated relationally so DuckDB is an
# independent oracle: adjacent pairs -> bigram/context counts ->
# add-k conditional -> mean negative ln P per doc.
_SQL_LM = f"""
    lm_toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS tk
      FROM documents
    ),
    lm_flat AS (
      SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                      i -> {{'w1': tk[i], 'w2': tk[i + 1]}})) AS p
        FROM lm_toks WHERE len(tk) >= 2
      )
    ),
    lm_big AS (SELECT w1, w2, COUNT(*) AS n FROM lm_flat GROUP BY 1, 2),
    lm_ctx AS (SELECT w1, SUM(n) AS n_ctx FROM lm_big GROUP BY 1),
    lm_voc AS (
      SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(tk) AS w FROM lm_toks)
    ),
    lm AS (
      SELECT doc_id, COUNT(*) AS lm_n_pairs,
             CAST(ROUND(-AVG(logp), 6) AS DOUBLE) AS lm_cross_entropy,
             CAST(ROUND(exp(-AVG(logp)), 4) AS DOUBLE) AS lm_ppl
      FROM (
        SELECT f.doc_id,
               ln((COALESCE(b.n, 0) + {_LM_K})
                  / (COALESCE(c.n_ctx, 0) + {_LM_K} * v)) AS logp
        FROM lm_flat f
        LEFT JOIN lm_big b USING (w1, w2)
        LEFT JOIN lm_ctx c USING (w1)
        CROSS JOIN lm_voc
      )
      GROUP BY doc_id
    )
"""
def _sql_lang_guess() -> str:
    return (
        "CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en' "
        "WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es' "
        "WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de' "
        "WHEN h_fr >= h_zh THEN 'fr' ELSE 'zh' END"
    )


@query(
    "q80_text_stats",
    oracle=f"""
    WITH {_SQL_LM},
    rep AS ({sql_intra_doc_repetition("documents")}),
    feats AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars_m,
             {sql_stopword_hits(sql_tokens(), STOPWORDS)} AS stop_hits,
             length(text) - length(regexp_replace(text, '[.,;!?]', '', 'g')) AS punct_hits,
             {', '.join(f"{sql_stopword_hits(sql_tokens(), LANG_STOPWORDS[lg])} AS h_{lg}" for lg in _LANGS)},
             {sql_subtoken_count()} AS n_subtokens,
             md5(text) AS doc_md5,
             {sql_minhash(sql_shingles(sql_tokens()))} AS minhash_sig,
             {sql_rolling_fingerprint(sql_tokens())} AS rolling_fp,
             {sql_simhash_bits(sql_tokens())} AS simhash16,
             {sql_hashed_linear_margin(sql_tokens(), _QWEIGHTS, shingles_expr=sql_shingles(sql_tokens(), 2))} AS model_margin
      FROM documents
    )
    SELECT doc_id, lang, source, n_tokens, n_subtokens,
           CAST(ROUND((n_chars_m - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 4) AS DOUBLE) AS avg_token_len,
           CAST(ROUND(stop_hits / CAST(n_tokens AS DOUBLE), 4) AS DOUBLE) AS stop_ratio,
           CAST(ROUND(punct_hits / CAST(n_chars_m AS DOUBLE), 4) AS DOUBLE) AS punct_ratio,
           CASE WHEN n_tokens >= 40 AND stop_hits / CAST(n_tokens AS DOUBLE) >= 0.05 THEN 'keep'
                WHEN n_tokens >= 15 THEN 'review'
                ELSE 'drop' END AS quality_band,
           {_sql_lang_guess()} AS lang_guess,
           h_en + h_es + h_de + h_fr + h_zh AS total_hits,
           doc_md5,
           {sql_hex_to_long("substr(doc_md5, 1, 8)")} AS fp_int,
           minhash_sig,
           rolling_fp,
           simhash16,
           model_margin,
           CASE WHEN model_margin >= 0.01 THEN 'high'
                WHEN model_margin >= -0.01 THEN 'mid'
                ELSE 'low' END AS model_band,
           COUNT(*) OVER (PARTITION BY simhash16) AS simhash_bucket,
           CAST(ROUND(COALESCE(rep.top3_cnt, 0) * CAST(3 AS DOUBLE) / n_tokens, 4) AS DOUBLE) AS rep_top3_frac,
           CAST(ROUND(COALESCE(rep.dup3_cov, 0) / CAST(n_tokens AS DOUBLE), 4) AS DOUBLE) AS rep_dup3_frac,
           lm.lm_n_pairs, lm.lm_cross_entropy, lm.lm_ppl
    FROM feats LEFT JOIN rep USING (doc_id) LEFT JOIN lm USING (doc_id)
    """,
)
def q80_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etfconstituentextractor_spark.operators.lm import perplexity, train_bigram_lm

    # fanout: single-split scan at small SF would run the whole
    # hash/HOF feature stage on one core (sources/tables.py:fanout).
    # localCheckpoint: the LM leg reads the corpus three more times
    # (bigram counts, vocab, scoring) — checkpointing the tokenized
    # frame makes ONE parquet scan + ONE tokenization feed all four
    # consumers instead of each re-scanning and re-splitting (measured
    # at sf0.1: the LM leg was ~2/3 of q80's wall). Blocks are
    # per-executor (MEMORY_AND_DISK), released when the plan is GC'd.
    d = (
        fanout(load(spark, sf_dir, "documents"))
        .withColumn("tk", F.expr(nonempty_tokens()))
        .localCheckpoint()
    )
    rep = intra_doc_repetition(d, tokens_col="tk")
    lm = perplexity(
        d, *train_bigram_lm(d, tokens_col="tk"), k=_LM_K, tokens_col="tk"
    ).select(
        "doc_id",
        F.col("n_pairs").alias("lm_n_pairs"),
        F.col("cross_entropy").alias("lm_cross_entropy"),
        F.col("ppl").alias("lm_ppl"),
    )
    # Materialize the raw whitespace split ONCE as a multi-reference
    # alias (round-14 optimization, guide §1.2 order-2 per-task work):
    # the feature projection below references the token array ~15
    # times (counts, 5 language hit filters, minhash shingles, rolling
    # fingerprint, simhash, margin shingles), and passing the literal
    # "split(text, ' ')" fragment to each helper re-evaluated the
    # split per reference per row (visible in the r14 baseline plan as
    # 15+ `split(text#...)` calls in one Project). A multi-reference
    # alias survives CollapseProject, so __toks computes once per row;
    # every downstream expression is byte-identical arithmetic over
    # the same array — results unchanged. (`tk` can't serve: it is the
    # NONEMPTY-token array, a different tokenization than the raw
    # split the q80 feature oracle specifies.)
    tok_expr = "__toks"
    n_tokens = F.expr("size(__toks)")
    n_chars_m = F.length("text")
    stop_hits = stopword_hits(tok_expr, STOPWORDS)
    punct_hits = n_chars_m - F.length(F.regexp_replace("text", r"[.,;!?]", ""))
    hits = {lg: stopword_hits(tok_expr, LANG_STOPWORDS[lg]) for lg in _LANGS}

    feats = d.withColumn("__toks", F.expr("split(text, ' ')")).select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        n_chars_m.alias("n_chars_m"),
        stop_hits.alias("stop_hits"),
        punct_hits.alias("punct_hits"),
        *[hits[lg].alias(f"h_{lg}") for lg in _LANGS],
        subtoken_count().alias("n_subtokens"),
        F.md5("text").alias("doc_md5"),
        minhash(spark_shingles(tok_expr)).alias("minhash_sig"),
        rolling_fingerprint(tok_expr).alias("rolling_fp"),
        simhash_bits(tok_expr).alias("simhash16"),
        hashed_linear_margin(
            tok_expr, _QWEIGHTS, shingles_expr=spark_shingles(tok_expr, 2)
        ).alias("model_margin"),
    )

    h = {lg: F.col(f"h_{lg}") for lg in _LANGS}
    guess = (
        F.when(
            (h["en"] >= h["es"]) & (h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["zh"]),
            "en",
        )
        .when((h["es"] >= h["de"]) & (h["es"] >= h["fr"]) & (h["es"] >= h["zh"]), "es")
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["zh"]), "de")
        .when(h["fr"] >= h["zh"], "fr")
        .otherwise("zh")
    )
    stop_ratio = F.col("stop_hits") / F.col("n_tokens").cast("double")
    return feats.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "n_subtokens",
        F.round(
            (F.col("n_chars_m") - (F.col("n_tokens") - 1)) / F.col("n_tokens").cast("double"), 4
        )
        .cast("double")
        .alias("avg_token_len"),
        F.round(stop_ratio, 4).cast("double").alias("stop_ratio"),
        F.round(F.col("punct_hits") / F.col("n_chars_m").cast("double"), 4)
        .cast("double")
        .alias("punct_ratio"),
        F.when((F.col("n_tokens") >= 40) & (stop_ratio >= 0.05), "keep")
        .when(F.col("n_tokens") >= 15, "review")
        .otherwise("drop")
        .alias("quality_band"),
        guess.alias("lang_guess"),
        (h["en"] + h["es"] + h["de"] + h["fr"] + h["zh"]).alias("total_hits"),
        "doc_md5",
        hex_to_long("substring(doc_md5, 1, 8)").alias("fp_int"),
        "minhash_sig",
        "rolling_fp",
        "simhash16",
        "model_margin",
        F.when(F.col("model_margin") >= 0.01, "high")
        .when(F.col("model_margin") >= -0.01, "mid")
        .otherwise("low")
        .alias("model_band"),
        F.count(F.lit(1)).over(W.partitionBy("simhash16")).alias("simhash_bucket"),
    ).join(rep, "doc_id", "left").select(
        "*",
        F.round(
            F.coalesce(F.col("top3_cnt"), F.lit(0)) * 3 / F.col("n_tokens").cast("double"), 4
        )
        .cast("double")
        .alias("rep_top3_frac"),
        F.round(
            F.coalesce(F.col("dup3_cov"), F.lit(0)) / F.col("n_tokens").cast("double"), 4
        )
        .cast("double")
        .alias("rep_dup3_frac"),
    ).drop("top3_cnt", "dup3_cov").join(lm, "doc_id", "left")


# ---------------------------------------------------------------------------
# q81 — corpus token statistics, tagged union of three legs at the
# same (token, n, n_docs, idf) grain:
#
# - leg='word': whitespace tokens (tokenize → explode → count → IDF).
#   The explode fans each document into its tokens; partial
#   aggregation collapses them map-side before the single shuffle on
#   token. IDF = ln(total_docs / doc_freq) joins the corpus size in as
#   a broadcast scalar frame (never a driver-side collect), rounded
#   before hashing because ln's last ulp is engine-specific.
# - leg='bpe' (§2B row 51): the same statistics over BPE PIECES from
#   `operators/bpe.py:encode_corpus` under a merge list trained once
#   on this corpus and committed. The dictionary path runs each greedy
#   merge fold over the corpus's DISTINCT words only, then
#   broadcast-joins word → pieces
#   back — per-merge cost is vocabulary-bounded, documents shuffle
#   once. The oracle replays the identical greedy left-to-right fold
#   in DuckDB: one `list_reduce` pass per merge over a separator-
#   joined symbol string (chr(31) — absent from corpus text), which
#   makes piece-level results hash-comparable, not just count-level.
# - leg='cms': count–min-sketch heavy hitters (operators/cms.py) —
#   tokens whose SKETCH-estimated count clears 0.4% of all token
#   occurrences; this leg's `n` is the CMS estimate (>= exact, md5
#   rows + integer counters → both engines inflate identically). At
#   100 TB the d×w counter grid is the fixed-memory mergeable path to
#   corpus-wide frequency; here it reads out of the same token
#   shuffle the word leg already pays (wstats is localCheckpointed —
#   three consumers, vocabulary-sized).
# ---------------------------------------------------------------------------
_BPE_MERGES = [
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("o", "r"),
    ("s", "t"),
]


def _sql_bpe_encode() -> str:
    """chr(31)-joined BPE pieces of `word` — one list_reduce greedy
    fold per committed merge, exactly `operators/bpe.py:_apply_merge`
    semantics (accumulator is the separator-joined symbol string)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    expr = "array_to_string(list_append(regexp_split_to_array(word, ''), '</w>'), chr(31))"
    for a, b in _BPE_MERGES:
        expr = (
            f"list_reduce(string_split({expr}, chr(31)), (acc, x) -> "
            f"CASE WHEN list_extract(string_split(acc, chr(31)), -1) = {q(a)} "
            f"AND x = {q(b)} "
            f"THEN substr(acc, 1, length(acc) - length({q(a)})) || {q(a + b)} "
            f"ELSE acc || chr(31) || x END)"
        )
    return expr


@query(
    "q81_text_token_counts",
    oracle=f"""
    WITH total AS (SELECT COUNT(*) AS n_total FROM documents),
    bpe_enc AS (
      SELECT word, {_sql_bpe_encode()} AS enc
      FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
            FROM documents) WHERE word != ''
    ),
    bpe_tok AS (
      SELECT t.doc_id, unnest(string_split(e.enc, chr(31))) AS token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) t
      JOIN bpe_enc e USING (word)
    ),
    wstats AS (
      SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    cms AS ({sql_cms_from_counts("SELECT token, n AS n_exact FROM wstats", "token")})
    SELECT 'word' AS leg, token, n, n_docs,
           CAST(ROUND(ln((SELECT n_total FROM total) / CAST(n_docs AS DOUBLE)), 6) AS DOUBLE) AS idf
    FROM wstats
    WHERE n >= 5
    UNION ALL
    SELECT 'bpe', token, COUNT(*), COUNT(DISTINCT doc_id),
           CAST(ROUND(ln((SELECT n_total FROM total) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE)), 6) AS DOUBLE)
    FROM bpe_tok
    GROUP BY token
    HAVING COUNT(*) >= 5
    UNION ALL
    SELECT 'cms', c.token, c.cms_est, w.n_docs,
           CAST(ROUND(ln((SELECT n_total FROM total) / CAST(w.n_docs AS DOUBLE)), 6) AS DOUBLE)
    FROM cms c JOIN wstats w USING (token)
    WHERE c.cms_est >= CAST(0.004 AS DOUBLE) * (SELECT SUM(n) FROM wstats)
    """,
)
def q81_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etfconstituentextractor_spark.operators.bpe import encode_corpus
    from etfconstituentextractor_spark.operators.cms import cms_from_counts

    d = load(spark, sf_dir, "documents")
    total = d.agg(F.count(F.lit(1)).alias("n_total"))

    def _finish(stats_df: DataFrame, leg: str, n_col: str = "n") -> DataFrame:
        return stats_df.crossJoin(F.broadcast(total)).select(
            F.lit(leg).alias("leg"),
            "token",
            F.col(n_col).alias("n"),
            "n_docs",
            F.round(F.log(F.col("n_total") / F.col("n_docs").cast("double")), 6)
            .cast("double")
            .alias("idf"),
        )

    def _stats(tok_df: DataFrame) -> DataFrame:
        return tok_df.groupBy("token").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs")
        )

    # word-token stats feed THREE consumers (word leg, CMS read-out,
    # total-occurrence scalar) — localCheckpoint the vocabulary-sized
    # frame so per-branch pruning can't force three corpus scans
    # (the q62/q64 multi-consumer pattern).
    wstats = _stats(
        fanout(d).select("doc_id", F.explode(tokens()).alias("token"))
    ).localCheckpoint()
    words = _finish(wstats.filter(F.col("n") >= 5), "word")
    pieces = _finish(
        _stats(
            encode_corpus(fanout(d), _BPE_MERGES).select(
                "doc_id", F.explode("pieces").alias("token")
            )
        ).filter(F.col("n") >= 5),
        "bpe",
    )
    # count-min heavy hitters (operators/cms.py): n is the SKETCH
    # estimate (>= exact by construction; w=64 forces real, but
    # deterministic, collisions on this vocabulary), thresholded at
    # 0.4% of total token occurrences.
    est = cms_from_counts(wstats.select("token", F.col("n").alias("n_exact")), "token")
    n_occ = wstats.agg(F.sum("n").alias("n_occ"))
    heavy = (
        est.join(wstats.select("token", "n_docs"), "token")
        .crossJoin(F.broadcast(n_occ))
        .filter(F.col("cms_est") >= F.lit(0.004) * F.col("n_occ"))
    )
    cms_leg = _finish(heavy, "cms", n_col="cms_est")
    return words.unionByName(pieces).unionByName(cms_leg)


# ---------------------------------------------------------------------------
# q82 — benchmark-contamination detection (operators/contamination.py):
# docs with doc_id % 43 == 0 stand in for the benchmark/eval set; every
# remaining document is scored by how many of its distinct word
# 4-grams collide with any eval 4-gram. The planted near-duplicate
# fixtures in `documents` make the signal real: true near-dups of eval
# docs land at n_matched 36/90 ('contaminated'), incidental single
# collisions at 1-2 ('suspect'), the rest 'clean'. Plan: eval n-grams
# distinct + BROADCAST (benchmarks are MBs, the corpus is TBs); the
# corpus side is one scan probed map-side; the only shuffle carries
# (doc_id, n_ngrams, flag) — never text.
# ---------------------------------------------------------------------------
@query(
    "q82_text_contamination",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, {sql_shingles("string_split(text, ' ')", 4)} AS grams
      FROM documents
    ),
    ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 43 = 0),
    tr AS (SELECT doc_id, list_distinct(grams) AS grams FROM g WHERE doc_id % 43 <> 0),
    ex AS (
      SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams,
             unnest(CASE WHEN len(grams) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE grams END) AS gram
      FROM tr
    ),
    hits AS (
      SELECT ex.doc_id, any_value(ex.n_ngrams) AS n_ngrams,
             COUNT(ev.gram) AS n_matched
      FROM ex LEFT JOIN ev USING (gram)
      GROUP BY ex.doc_id
    )
    SELECT doc_id, n_ngrams, n_matched,
           CAST(CASE WHEN n_ngrams > 0
                THEN ROUND(n_matched / CAST(n_ngrams AS DOUBLE), 4)
                ELSE 0.0 END AS DOUBLE) AS hit_ratio,
           CASE WHEN n_matched >= 8 THEN 'contaminated'
                WHEN n_matched >= 1 THEN 'suspect'
                ELSE 'clean' END AS verdict
    FROM hits
    """,
)
def q82_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fanout(load(spark, sf_dir, "documents"))
    is_eval = (F.col("doc_id") % 43) == 0
    return ngram_contamination(
        d.filter(~is_eval), d.filter(is_eval), n=4, contaminated_at=8
    )


# ---------------------------------------------------------------------------
# q84 — PII scrub (operators/pii.py, §2B "LLM-pipeline — PII scrub";
# no reference counterpart — the reference republishes scraped text
# verbatim). The corpus contains no PII-shaped strings, so the fixture
# is DETERMINISTICALLY PLANTED: both engines assemble the identical
# PII-laden text from customer columns (an email from c_name, the
# TPC-H phone, a dotted-quad IP, an SSN-shaped id on every 5th row, a
# 16-digit card on every 7th), then the engine's regexp_count /
# regexp_replace chain is hash-checked against DuckDB running the
# IDENTICAL pattern strings (PII_PATTERNS stays in the Java∩RE2
# subset for exactly this reason). The whole stage is one codegen
# projection — zero shuffle, zero Python; at 100 TB it rides the scan.
# ---------------------------------------------------------------------------
def _pii_planted_sql() -> str:
    return """
      'User ' || c_name || ' mail ' || lower(replace(c_name, '#', '.'))
      || '@corp' || CAST(c_custkey % 100 AS VARCHAR) || '.example.com'
      || ' phone (' || lpad(CAST(c_custkey % 800 + 200 AS VARCHAR), 3, '0') || ') '
      || lpad(CAST((c_custkey * 13) % 1000 AS VARCHAR), 3, '0') || '-'
      || lpad(CAST((c_custkey * 17) % 10000 AS VARCHAR), 4, '0')
      || ' from 10.' || CAST(c_custkey % 250 AS VARCHAR) || '.'
      || CAST(c_nationkey AS VARCHAR) || '.7'
      || CASE WHEN c_custkey % 5 = 0
              THEN ' ssn ' || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST((c_custkey * 3) % 100 AS VARCHAR), 2, '0')
                   || '-' || lpad(CAST((c_custkey * 11) % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN c_custkey % 7 = 0
              THEN ' card 4111' || lpad(CAST(c_custkey % 1000000000000 AS VARCHAR), 12, '0')
              ELSE '' END
    """


def _pii_oracle() -> str:
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    redacted = "text"
    for _, pat, token in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{token}', 'g')"
    total = " + ".join(f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in PII_PATTERNS)
    return f"""
    WITH planted AS (
      SELECT c_custkey AS cust_id, {_pii_planted_sql()} AS text FROM customer
    )
    SELECT cust_id,
           {counts},
           CAST({total} AS INT) AS pii_total,
           {redacted} AS text_redacted
    FROM planted
    """


@query("q84_pii_scrub", oracle=_pii_oracle())
def q84_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    planted = c.select(
        F.col("c_custkey").alias("cust_id"),
        F.expr(_pii_planted_sql().replace("VARCHAR", "STRING")).alias("text"),
    )
    scrubbed = scrub(planted)
    return scrubbed.select(
        "cust_id",
        *[F.col("pii_counts")[name].cast("int").alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
        F.col("pii_total").cast("int").alias("pii_total"),
        "text_redacted",
    )


# ---------------------------------------------------------------------------
# q87 — corpus-frequency boilerplate removal (operators/boilerplate.py,
# the CCNet/RefinedWeb line-dedup cleaning stage). The test corpus has
# no natural repeated lines, so — exactly like q84's planted PII — both
# engines deterministically plant the same boilerplate first: every doc
# gets one of three footer banners keyed by doc_id % 3 (~1/3 of the
# corpus each), and docs with doc_id % 7 == 0 additionally get a cookie
# header. min_docs=5 then classifies precisely the four banners as
# boilerplate (each original body is one unique line), and the strip
# must restore the original text with the per-doc line accounting.
#
# Plan (pinned in tests/test_plans.py): frequency pass shuffles only
# per-doc-distinct xxhash64(line) values; the frequent set collapses to
# one broadcast array row; the documents side is a pure codegen array
# filter with ZERO Exchange — text never shuffles.
# ---------------------------------------------------------------------------
_BANNERS = (
    "subscribe to our newsletter for daily updates",
    "all rights reserved copyright example corp",
    "share this article on social media",
)
_COOKIE_HEADER = "please enable cookies to continue"


def _banner_plant_sql() -> str:
    return f"""
      SELECT doc_id,
             concat(CASE WHEN doc_id % 7 = 0 THEN '{_COOKIE_HEADER}' || chr(10) ELSE '' END,
                    text, chr(10),
                    CASE WHEN doc_id % 3 = 0 THEN '{_BANNERS[0]}'
                         WHEN doc_id % 3 = 1 THEN '{_BANNERS[1]}'
                         ELSE '{_BANNERS[2]}' END) AS text
      FROM documents
    """


def planted_boilerplate(docs: DataFrame) -> DataFrame:
    """Spark twin of _banner_plant_sql (same rows, same banners)."""
    footer = F.element_at(
        F.array(*[F.lit(b) for b in _BANNERS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    header = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.lit(_COOKIE_HEADER), F.lit("\n"))
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(header, F.col("text"), F.lit("\n"), footer).alias("text"),
    )


@query(
    "q87_boilerplate_strip",
    oracle=f"""
    WITH aug AS ({_banner_plant_sql()}),
    lines AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             generate_subscripts(string_split(text, chr(10)), 1) AS pos
      FROM aug
    ),
    freq AS (
      SELECT line FROM (
        SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line
      ) WHERE n_docs >= 5
    ),
    kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l ANTI JOIN freq f USING (line)),
    clean AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id,
           coalesce(c.clean_text, '') AS clean_text,
           CAST(len(string_split(a.text, chr(10))) AS BIGINT) AS n_lines,
           CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept
    FROM aug a LEFT JOIN clean c USING (doc_id)
    """,
)
def q87_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = planted_boilerplate(fanout(load(spark, sf_dir, "documents")))
    return strip_boilerplate(docs, min_docs=5).select(
        "doc_id", "clean_text", "n_lines", "n_kept"
    )
