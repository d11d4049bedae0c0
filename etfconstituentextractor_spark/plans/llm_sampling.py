"""Corpus-mixing sampling queries over `documents`
(operators/sampling.py; SURVEY.md §2B "LLM-pipeline" tier).

Both legs select rows as a pure function of md5(doc_id) — the only
sampling that is reproducible across reruns and engines, which is
what makes a mixture auditable (and oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.chunking import chunk_documents
from etfconstituentextractor_spark.operators.dsir import dsir_scores, sql_dsir_ctes
from etfconstituentextractor_spark.operators.packing import pack_sequences
from etfconstituentextractor_spark.operators.sampling import (
    BUCKETS,
    _WES_DENOM,
    epoch_shard_shuffle,
    hash_bucket,
    hash_oversample,
    hash_rate_sample,
    stratified_quota_sample,
    temperature_thresholds,
    token_budget_sample,
    weighted_reservoir_sample,
)
from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import fanout, load

#: per-language mixture weights (keep-rate per stratum) — the
#: data-mixing step of a pretraining pipeline: oversample the scarce
#: languages, downsample the dominant one.
MIX_RATES = {"en": 0.35, "es": 0.8, "de": 0.6, "fr": 1.0, "zh": 0.15}

#: exact per-language quota for the fixed-size sample leg
QUOTA_K = 25

#: epochs-per-language duplication factors for the with-replacement
#: leg — scarce languages repeat (zh 2-3x, fr 1-2x), the dominant one
#: subsamples (en 40%) through the SAME bucket mechanism
OVER_RATES = {"en": 0.4, "es": 1.0, "de": 1.0, "fr": 1.5, "zh": 2.3}

#: per-language top-k for the length-WEIGHTED (Efraimidis-Spirakis)
#: leg — longer documents proportionally more likely to be kept
WEIGHTED_K = 40

#: per-language TOKEN budgets (n_chars as the token proxy — the same
#: weight column the 'weighted' leg uses) for the budget-capped leg:
#: strata bill by tokens, not documents, so a doc-count quota would
#: over-represent short-document sources
TOKEN_BUDGETS = {"en": 40_000, "es": 25_000, "de": 15_000, "fr": 10_000, "zh": 5_000}

#: temperature-weighted mixture parameters: sampled share of stratum s
#: proportional to count(s)**ALPHA, total kept volume TEMP_KEEP of the
#: corpus (the standard multilingual rebalancing scheme)
TEMP_ALPHA = 0.3
TEMP_KEEP = 0.5

#: DSIR (Xie et al. 2023) targeted-selection leg: the "curated target
#: domain" is three sources; every raw doc is scored by hashed-unigram
#: importance weight against that target and the top K per language
#: survive (stratified so the window rank stays parallel — and so one
#: dominant language can't crowd out the mixture)
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
DSIR_K = 30
# derived from the tuple so the Spark leg and the oracle can never
# silently desynchronize
_DSIR_PRED = "source IN (%s)" % ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)


def _sql_rate_case() -> str:
    return (
        "CASE lang "
        + " ".join(
            f"WHEN '{lg}' THEN {int(round(rate * BUCKETS))}"
            for lg, rate in sorted(MIX_RATES.items())
        )
        + " ELSE 0 END"
    )


def _sql_copies() -> str:
    """n_copies = floor(rate) + (bucket < frac(rate)·BUCKETS)."""
    floor_case = (
        "CASE lang "
        + " ".join(f"WHEN '{lg}' THEN {int(r)}" for lg, r in sorted(OVER_RATES.items()))
        + " ELSE 0 END"
    )
    frac_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lg}' THEN {int(round((r - int(r)) * BUCKETS))}"
            for lg, r in sorted(OVER_RATES.items())
        )
        + " ELSE 0 END"
    )
    return f"{floor_case} + CASE WHEN bucket < {frac_case} THEN 1 ELSE 0 END"


def _sql_budget_case() -> str:
    return (
        "CASE lang "
        + " ".join(f"WHEN '{lg}' THEN {n}" for lg, n in sorted(TOKEN_BUDGETS.items()))
        + " ELSE 0 END"
    )


# ---------------------------------------------------------------------------
# q83 — stratified mixture sampling, six shapes in one tagged plan:
# - 'rate' leg: deterministic Bernoulli(rate[lang]) via hash bucket —
#   a pure codegen filter, zero shuffle: the at-scale path;
# - 'quota' leg: exactly min(k, |stratum|) rows per language, the k
#   smallest hash buckets — one shuffle on the (low-cardinality)
#   stratum key; Catalyst's WindowGroupLimit pre-prunes map-side
#   (operators/sampling.py docstring);
# - 'oversample' leg: WITH-replacement duplication factors (epochs
#   per language: zh repeats 2-3x, en subsamples to 40%) — codegen
#   copy count + explode(sequence), zero shuffle; rn carries copy_id.
# - 'weighted' leg (round 5): Efraimidis-Spirakis length-weighted
#   top-k per language (operators/sampling.py:
#   weighted_reservoir_sample) — a longer document proportionally
#   more likely to survive, the ln(u) rounded at 6 dp BEFORE the
#   exact division by weight so both engines rank identically (see
#   the operator docstring); bucket is NULL on this leg (its draw is
#   the ES key, not the mix bucket).
# - 'budget' leg (round 6): token-budget cap per language
#   (operators/sampling.py: token_budget_sample) — rows kept in hash
#   order until the stratum's TOKEN budget fills (n_chars as the token
#   proxy), the boundary doc overflowing by at most its own length;
#   `cum_before` exposes the decision. One window shuffle carrying
#   (key, counts) — text never moves.
# - 'temperature' leg (round 6): count**alpha temperature rebalancing
#   (operators/sampling.py: temperature_thresholds). The per-stratum
#   counts, their two totals and the thresholds stay in the plan — a
#   5-row frame broadcast-joined on lang, nothing collected; rates
#   round at 4 dp so rate·BUCKETS is integer-exact and both engines
#   derive the SAME thresholds from their own pow() (the 6dp-ln
#   precedent, one notch coarser because the value feeds an integer
#   round).
# - 'dsir' leg (round 7): DSIR targeted selection (Xie et al. 2023,
#   operators/dsir.py) — hashed-unigram importance weights of a
#   curated target slice vs the raw pool, add-1 smoothed, mean
#   per-token log ratio rounded at 6 dp BEFORE the rank (the lm.py
#   float discipline); top DSIR_K raw docs per language survive.
#   Content-aware where every other leg is content-blind: this is the
#   "select data that looks like my target domain" stage of a
#   pretraining pipeline. rn carries the rank; bucket is NULL (the
#   draw is the importance weight, not the mix bucket).
# The `bucket` column is part of the contract so the selection is
# auditable row-by-row; both engines derive it identically
# (md5 hex prefix → bigint → mod).
# ---------------------------------------------------------------------------
@query(
    "q83_sample_stratified_mix",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, source, n_chars,
             CAST('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), ':mix')), 1, 8) AS BIGINT)
               % {BUCKETS} AS bucket
      FROM documents
    ),
    {sql_dsir_ctes(_DSIR_PRED)}
    SELECT 'rate' AS leg, doc_id, lang, source, bucket, CAST(NULL AS INTEGER) AS rn,
           CAST(NULL AS BIGINT) AS cum_before
    FROM h
    WHERE bucket < {_sql_rate_case()}
    UNION ALL
    SELECT 'quota' AS leg, doc_id, lang, source, bucket, rn,
           CAST(NULL AS BIGINT) AS cum_before
    FROM (
      SELECT doc_id, lang, source, bucket,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS INTEGER) AS rn
      FROM h
    )
    WHERE rn <= {QUOTA_K}
    UNION ALL
    SELECT 'oversample' AS leg, doc_id, lang, source, bucket,
           CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS rn,
           CAST(NULL AS BIGINT) AS cum_before
    FROM (SELECT h.*, {_sql_copies()} AS n_copies FROM h)
    WHERE n_copies >= 1
    UNION ALL
    SELECT 'weighted' AS leg, doc_id, lang, source, CAST(NULL AS BIGINT) AS bucket, rn,
           CAST(NULL AS BIGINT) AS cum_before
    FROM (
      SELECT doc_id, lang, source,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY ROUND(ln((CAST('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), ':wes')), 1, 13) AS BIGINT)
                                  + 1.0) / {float(_WES_DENOM)}), 6)
                        / CAST(n_chars AS DOUBLE) DESC,
                        doc_id
             ) AS INTEGER) AS rn
      FROM documents WHERE n_chars > 0
    )
    WHERE rn <= {WEIGHTED_K}
    UNION ALL
    SELECT 'budget' AS leg, doc_id, lang, source, bucket, CAST(NULL AS INTEGER) AS rn,
           cum_before
    FROM (
      SELECT doc_id, lang, source, bucket,
             CAST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY bucket, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_chars AS BIGINT) AS cum_before
      FROM h
    )
    WHERE cum_before < {_sql_budget_case()}
    UNION ALL
    SELECT 'temperature' AS leg, doc_id, lang, source, bucket, CAST(NULL AS INTEGER) AS rn,
           CAST(NULL AS BIGINT) AS cum_before
    FROM h
    JOIN (
      SELECT lang,
             CAST(ROUND(ROUND((({TEMP_KEEP} * (SUM(n) OVER ())) * w / (SUM(w) OVER ())) / n, 4)
                        * {BUCKETS}) AS BIGINT) AS thresh
      FROM (SELECT lang, COUNT(*) AS n, pow(COUNT(*), {TEMP_ALPHA}) AS w
            FROM documents GROUP BY lang)
    ) r USING (lang)
    WHERE bucket < r.thresh
    UNION ALL
    SELECT 'dsir' AS leg, doc_id, lang, source, CAST(NULL AS BIGINT) AS bucket, rn,
           CAST(NULL AS BIGINT) AS cum_before
    FROM (
      SELECT s.doc_id, d.lang, d.source,
             CAST(row_number() OVER (PARTITION BY d.lang
                                     ORDER BY s.dsir_score DESC, s.doc_id) AS INTEGER) AS rn
      FROM dsir_scores s JOIN documents d USING (doc_id)
    )
    WHERE rn <= {DSIR_K}
    """,
)
def q83_sample_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = load(spark, sf_dir, "documents")
    d = full.select("doc_id", "lang", "source")
    no_cum = F.lit(None).cast("bigint").alias("cum_before")
    rate_leg = hash_rate_sample(d, MIX_RATES, strat_col="lang", key_col="doc_id").select(
        F.lit("rate").alias("leg"),
        "doc_id",
        "lang",
        "source",
        "bucket",
        F.lit(None).cast("int").alias("rn"),
        no_cum,
    )
    quota_leg = stratified_quota_sample(
        d, strat_col="lang", key_col="doc_id", k=QUOTA_K
    ).select(
        F.lit("quota").alias("leg"), "doc_id", "lang", "source", "bucket", "rn", no_cum
    )
    over_leg = hash_oversample(d, OVER_RATES, strat_col="lang", key_col="doc_id").select(
        F.lit("oversample").alias("leg"),
        "doc_id",
        "lang",
        "source",
        "bucket",
        F.col("copy_id").cast("int").alias("rn"),
        no_cum,
    )
    weighted_leg = weighted_reservoir_sample(
        full.select("doc_id", "lang", "source", "n_chars"),
        strat_col="lang",
        key_col="doc_id",
        weight_col="n_chars",
        k=WEIGHTED_K,
    ).select(
        F.lit("weighted").alias("leg"),
        "doc_id",
        "lang",
        "source",
        F.lit(None).cast("bigint").alias("bucket"),
        "rn",
        no_cum,
    )
    budget_leg = token_budget_sample(
        full.select("doc_id", "lang", "source", "n_chars"),
        TOKEN_BUDGETS,
        strat_col="lang",
        tokens_col="n_chars",
        key_col="doc_id",
    ).select(
        F.lit("budget").alias("leg"),
        "doc_id",
        "lang",
        "source",
        "bucket",
        F.lit(None).cast("int").alias("rn"),
        F.col("cum_before").cast("bigint").alias("cum_before"),
    )
    thresholds = temperature_thresholds(
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")),
        strat_col="lang",
        alpha=TEMP_ALPHA,
        keep_fraction=TEMP_KEEP,
    )
    temp_leg = (
        d.withColumn("bucket", hash_bucket("doc_id"))
        .join(F.broadcast(thresholds.select("lang", "thresh")), "lang")
        .filter(F.col("bucket") < F.col("thresh"))
    ).select(
        F.lit("temperature").alias("leg"),
        "doc_id",
        "lang",
        "source",
        "bucket",
        F.lit(None).cast("int").alias("rn"),
        no_cum,
    )
    # fanout: the tokenize pass must not run on the scan's single
    # small-SF split (sources/tables.py:fanout — no-op at scale)
    scores = dsir_scores(fanout(full), F.col("source").isin(*DSIR_TARGET_SOURCES))
    w_dsir = W.partitionBy("lang").orderBy(F.col("dsir_score").desc(), "doc_id")
    dsir_leg = (
        scores.join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w_dsir).alias("rn"),
        )
        .filter(F.col("rn") <= DSIR_K)
        .select(
            F.lit("dsir").alias("leg"),
            "doc_id",
            "lang",
            "source",
            F.lit(None).cast("bigint").alias("bucket"),
            F.col("rn").cast("int").alias("rn"),
            no_cum,
        )
    )
    return (
        rate_leg.unionByName(quota_leg)
        .unionByName(over_leg)
        .unionByName(weighted_leg)
        .unionByName(budget_leg)
        .unionByName(temp_leg)
        .unionByName(dsir_leg)
    )


# ---------------------------------------------------------------------------
# q85 — sequence LAYOUT family, two tagged legs (the driver caps the
# catalog at 50 registered queries, so the two context-length-prep
# inverses share one registration, as q02's projection leg does inside
# q04):
# - 'pack' leg (operators/packing.py, §2B "LLM-pipeline — sequence
#   packing"): assign every document to a fixed-token-budget training
#   sequence. The layout orders docs by (md5 bucket, doc_id) per
#   language shard, lays them end-to-end, and cuts every `budget`
#   tokens — a doc belongs to the bin its STARTING offset falls in, so
#   bins overflow by at most one boundary document (the slack real
#   packers truncate/pad). Deterministic across reruns, cluster sizes,
#   and engines. Plan shape: ONE window shuffle on the shard key
#   carrying (doc_id, n_tokens) — never text; the cumsum and bin
#   arithmetic are codegen scalars. At 100 TB each shard packs
#   independently — exactly the strat_col parameter.
# - 'chunk' leg (operators/chunking.py): the inverse — split LONG docs
#   into overlapping fixed-token windows with (doc_id, ord) provenance.
#   Pure codegen project + explode(sequence) + slice, ZERO shuffle
#   (pinned in tests/test_chunking.py); the only at-scale cost is the
#   deliberate ~chunk/stride amplification, which the caller picks.
#   min_tail drops ragged tails already contained in the previous
#   window; window 0 is never dropped, so no document vanishes.
# - 'shard' leg (round 6): the deterministic EPOCH SHUFFLE + SHARD
#   layout a training run consumes — every doc gets a seed-keyed md5
#   rank, lands in shard `hash % NSHARDS` (bin_id), and `ord` is its
#   shuffled position WITHIN the shard (start_offset = cumulative
#   tokens before it, the shard's file offset). A new seed string is a
#   new epoch order. Deliberately shard-local: a global row_number
#   would funnel 100 TB through one sort partition, while per-shard
#   windows parallelize perfectly and the global order is just the
#   shard interleave. Same one-(doc_id,n_tokens)-window shape as
#   'pack'; text never shuffles.
# Unified columns: ord = pack_order | chunk_idx | shard rank, n_tok =
# doc tokens | window tokens; leg-specific columns are NULL on the
# other legs.
# ---------------------------------------------------------------------------
PACK_BUDGET = 2048
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24
CHUNK_MIN_TAIL = 8
NSHARDS = 8
EPOCH_SALT = "epoch0"


@query(
    "q85_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), ':pack')), 1, 8) AS BIGINT)
               % {BUCKETS} AS bucket
      FROM documents
    ),
    laid AS (
      SELECT doc_id, lang, n_tokens,
             CAST(row_number() OVER w AS INTEGER) AS pack_order,
             sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM t
      WINDOW w AS (PARTITION BY lang ORDER BY bucket, doc_id)
    ),
    ctoks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    cidx AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, (len(toks) - 1) // {CHUNK_STRIDE})) AS chunk_idx
      FROM ctoks
    ),
    chunks AS (
      SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
             list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                        chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS chunk
      FROM cidx
    )
    SELECT 'pack' AS leg, doc_id, lang, pack_order AS ord, n_tokens AS n_tok,
           start_offset, start_offset // {PACK_BUDGET} AS bin_id,
           CAST(NULL AS VARCHAR) AS chunk_text
    FROM laid
    UNION ALL
    SELECT 'chunk' AS leg, doc_id, CAST(NULL AS VARCHAR) AS lang,
           chunk_idx AS ord, CAST(len(chunk) AS BIGINT) AS n_tok,
           CAST(NULL AS BIGINT) AS start_offset, CAST(NULL AS BIGINT) AS bin_id,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks
    WHERE len(chunk) >= {CHUNK_MIN_TAIL} OR chunk_idx = 0
    UNION ALL
    SELECT 'shard', doc_id, lang,
           CAST(row_number() OVER ws AS INTEGER) AS ord, n_tokens,
           sum(n_tokens) OVER (ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens AS start_offset,
           __h % {NSHARDS} AS bin_id,
           CAST(NULL AS VARCHAR) AS chunk_text
    FROM (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), ':{EPOCH_SALT}')), 1, 8)
               AS BIGINT) AS __h
      FROM documents
    )
    WINDOW ws AS (PARTITION BY __h % {NSHARDS} ORDER BY __h, doc_id)
    """,
)
def q85_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(d, PACK_BUDGET, strat_col="lang", salt="pack")
    pack_leg = packed.select(
        F.lit("pack").alias("leg"),
        "doc_id",
        "lang",
        F.col("pack_order").cast("int").alias("ord"),
        F.col("n_tokens").alias("n_tok"),
        "start_offset",
        "bin_id",
        F.lit(None).cast("string").alias("chunk_text"),
    )
    chunk_leg = chunk_documents(
        docs,
        chunk_tokens=CHUNK_TOKENS,
        stride=CHUNK_STRIDE,
        min_tail_tokens=CHUNK_MIN_TAIL,
    ).select(
        F.lit("chunk").alias("leg"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.col("chunk_idx").alias("ord"),
        F.col("n_chunk_tokens").alias("n_tok"),
        F.lit(None).cast("bigint").alias("start_offset"),
        F.lit(None).cast("bigint").alias("bin_id"),
        "chunk_text",
    )
    shard_leg = epoch_shard_shuffle(
        docs.select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        ),
        key_col="doc_id",
        tokens_col="n_tokens",
        n_shards=NSHARDS,
        salt=EPOCH_SALT,
    ).select(
        F.lit("shard").alias("leg"),
        "doc_id",
        "lang",
        F.col("shard_rank").cast("int").alias("ord"),
        F.col("n_tokens").alias("n_tok"),
        "start_offset",
        F.col("shard").alias("bin_id"),
        F.lit(None).cast("string").alias("chunk_text"),
    )
    return pack_leg.unionByName(chunk_leg).unionByName(shard_leg)
