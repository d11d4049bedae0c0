"""Deterministic sampling for corpus mixing: hash-rate (Bernoulli)
and exact per-stratum quota sampling.

A training-data pipeline ends with a *mixture*: each source/language
stratum contributes at its own rate (data-mixing weights). Random
sampling is useless at 100 TB — a re-run must select the SAME rows
(resumability, A/B comparisons), so selection is a pure function of
the row key: an md5-derived uniform bucket in [0, 10000).

No reference counterpart (the reference extracts everything it
scrapes); SURVEY.md §2B "LLM-pipeline" tier.

Scale posture:

- ``hash_rate_sample`` is a pure filter — whole-stage codegen, zero
  shuffle, trivially parallel at any scale. This is the at-scale
  path.
- ``stratified_quota_sample`` needs a per-stratum total order over
  the hash, i.e. one shuffle on the stratum key — but Catalyst's
  rank-limit pushdown (`WindowGroupLimit`, Spark ≥3.5) inserts a
  PARTIAL group-limit before the Exchange: every map task pre-prunes
  to its local k smallest buckets per stratum, so the shuffle moves
  at most k·tasks rows per stratum and the final per-stratum sort
  sees k·tasks rows, not the stratum (pinned in
  tests/test_plans.py). That is the two-phase "filter then exact
  top-k" a hand-rolled implementation would need — for free.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: bucket space for rate thresholds — rates quantized to 1/10000
BUCKETS = 10_000


def _reject_reserved(df: DataFrame, *names: str) -> None:
    """Refuse input columns that a sampler is about to materialize —
    ``withColumn`` would silently overwrite them. Applies to appended
    OUTPUT columns (bucket, rn, ...) and dropped internals (es_key)
    alike: either way the caller's data would be destroyed."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with sampler-reserved names; "
            "rename them before sampling"
        )


def hash_bucket(key_col: str, salt: str = "mix") -> Column:
    """Uniform deterministic bucket in [0, BUCKETS) from md5(key:salt).

    First 8 hex chars → bigint → mod: portable (the DuckDB twin is
    ``('0x' || substr(md5(...), 1, 8))::BIGINT % 10000``) and uniform
    enough for sampling (md5 avalanche).

    A NULL key yields a NULL bucket, and every consumer here treats
    that as "never selected": the rate/oversample filters are
    null-rejecting comparisons, and the quota ordering is
    nulls-LAST (Spark's asc default is nulls-first, which would
    silently hand null-keyed rows rank 1). A keyless row has no
    deterministic draw, so excluding it is the only defensible
    semantic; key-grain dedup/validation belongs upstream.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % BUCKETS


def rate_threshold(rates: Mapping[str, float], strat_col: str) -> Column:
    """Per-row bucket threshold: rate(stratum)·BUCKETS as a CASE chain;
    unknown strata get rate 0."""
    expr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(strat_col) == stratum
        val = F.lit(int(round(rate * BUCKETS)))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(F.lit(0)) if expr is not None else F.lit(0)


def hash_rate_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    *,
    strat_col: str,
    key_col: str,
) -> DataFrame:
    """Keep each row iff its hash bucket < rate(stratum)·BUCKETS.

    Deterministic Bernoulli(rate) per stratum; appends the ``bucket``
    column so callers (and oracles) can audit the decision.
    """
    _reject_reserved(df, "bucket")
    return df.withColumn("bucket", hash_bucket(key_col)).filter(
        F.col("bucket") < rate_threshold(rates, strat_col)
    )


def stratified_quota_sample(
    df: DataFrame,
    *,
    strat_col: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen as the k
    smallest hash buckets (ties broken by key) — a deterministic
    uniform without-replacement sample. Appends ``bucket`` and the
    1-based ``rn`` rank within the stratum.
    """
    _reject_reserved(df, "bucket", "rn")
    w = W.partitionBy(strat_col).orderBy(
        F.col("bucket").asc_nulls_last(), F.col(key_col).asc_nulls_last()
    )
    return (
        df.withColumn("bucket", hash_bucket(key_col))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )


#: 16^13 + 1 — denominator mapping a 13-hex-char (52-bit) md5 prefix
#: into u ∈ (0, 1]; the integer numerator is double-EXACT in every
#: engine, so u is bit-identical cross-engine.
_WES_DENOM = 16**13 + 1


def weighted_reservoir_sample(
    df: DataFrame,
    *,
    strat_col: str,
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement:
    top-k rows per stratum by the priority key ln(u)/w (equivalent to
    ranking on u^(1/w)) — a heavier row wins proportionally more
    often, and a re-run selects the same rows (u derives from
    md5(key:wes), not a RNG).

    Cross-engine determinism: u's numerator is a 52-bit integer
    (double-exact), then ln(u) is ROUNDED AT 6 dp BEFORE the division
    by weight. ln is the one libm call — engines may differ in its
    last ulp — and the 1e-6 grid crushes that divergence (the idf
    precedent in q81), while the division by w is exact IEEE given
    identical inputs, so the full weighted resolution survives and the
    rank order is bit-identical cross-engine with no further
    rounding. Ties (equal rounded-ln AND equal weight) break on the
    key column.

    Rows with null or non-positive weight have no valid draw and are
    excluded. One shuffle on the stratum key; WindowGroupLimit
    pre-prunes each map task to its local top-k (same plan shape as
    ``stratified_quota_sample``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _reject_reserved(df, "es_key", "rn")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":wes")))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + F.lit(1.0)) / F.lit(
        float(_WES_DENOM)
    )
    es = F.round(F.log(u), 6) / F.col(weight_col).cast("double")
    w = W.partitionBy(strat_col).orderBy(
        F.col("es_key").desc(), F.col(key_col).asc_nulls_last()
    )
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("es_key", es)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .drop("es_key")
    )


def hash_oversample(
    df: DataFrame,
    rates: Mapping[str, float],
    *,
    strat_col: str,
    key_col: str,
) -> DataFrame:
    """Deterministic WITH-replacement mixture for rates that may
    exceed 1: a stratum at rate 2.3 emits every row twice, and the
    deterministic 30% of rows whose bucket < 0.3·BUCKETS a third time
    (`copy_id` 1..n distinguishes the copies).

    This is how scarce-domain oversampling actually ships in a
    training mixture — epochs-per-source as a per-row duplication
    factor, reproducible across runs because the extra-copy draw is
    the same md5 bucket as the subsampling path. Plan shape: bucket +
    copy-count are codegen scalars; `explode(sequence(...))` is the
    only row-expanding op, no shuffle at all.
    """
    _reject_reserved(df, "bucket", "n_copies", "copy_id")
    floor_expr = None
    frac_expr = None
    for stratum, rate in sorted(rates.items()):
        whole, frac = int(rate), int(round((rate - int(rate)) * BUCKETS))
        cond = F.col(strat_col) == stratum
        floor_expr = (
            F.when(cond, whole) if floor_expr is None else floor_expr.when(cond, whole)
        )
        frac_expr = (
            F.when(cond, frac) if frac_expr is None else frac_expr.when(cond, frac)
        )
    floor_col = floor_expr.otherwise(F.lit(0)) if floor_expr is not None else F.lit(0)
    frac_col = frac_expr.otherwise(F.lit(0)) if frac_expr is not None else F.lit(0)

    n_copies = floor_col + (F.col("bucket") < frac_col).cast("int")
    return (
        df.withColumn("bucket", hash_bucket(key_col))
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") >= 1)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
        .drop("n_copies")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: Mapping[str, int],
    *,
    strat_col: str,
    tokens_col: str,
    key_col: str,
) -> DataFrame:
    """Keep rows per stratum, in deterministic hash order, until the
    stratum's TOKEN budget fills — how a mixture is actually capped
    when strata bill by tokens, not documents (a doc-count quota
    over-represents short-document sources).

    A row is kept iff the tokens BEFORE it (same stratum, hash order)
    fit the budget — so the boundary document may overflow by at most
    its own length (the same slack contract as sequence packing, which
    consumes these samples). Unknown strata get budget 0. Appends
    ``bucket`` and ``cum_before`` so the selection is auditable.

    Plan shape: one window shuffle on the stratum key carrying
    (key, token counts) — text never moves; the budget comparison is a
    codegen scalar. Deterministic across reruns and cluster sizes.
    """
    _reject_reserved(df, "bucket", "cum_before")
    w = W.partitionBy(strat_col).orderBy(
        F.col("bucket").asc_nulls_last(), F.col(key_col).asc_nulls_last()
    )
    cum_incl = F.sum(tokens_col).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    budget = None
    for stratum, n in sorted(budgets.items()):
        cond = F.col(strat_col) == stratum
        budget = F.when(cond, n) if budget is None else budget.when(cond, n)
    budget = budget.otherwise(F.lit(0)) if budget is not None else F.lit(0)
    return (
        df.withColumn("bucket", hash_bucket(key_col))
        .withColumn("cum_before", cum_incl - F.col(tokens_col))
        .filter(F.col("cum_before") < budget)
    )


def epoch_shard_shuffle(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    n_shards: int = 8,
    salt: str = "epoch0",
) -> DataFrame:
    """Deterministic epoch shuffle + shard layout for a training run:
    every row gets a seed-keyed md5 rank, lands in shard
    ``hash % n_shards`` (``shard``), and ``shard_rank`` is its
    shuffled position within the shard; ``start_offset`` is the
    cumulative token count before it (the shard's file offset). A new
    ``salt`` is a new epoch order.

    Deliberately shard-local: a global row_number would funnel the
    corpus through ONE sort partition, while per-shard windows
    parallelize across the cluster and the global training order is
    just the shard interleave — which is how sharded training data is
    actually consumed. One window shuffle carrying (key, token
    counts); text never moves. Deterministic across reruns, cluster
    sizes, and engines (md5 + integer arithmetic only).

    NULL keys raise: a NULL key would hash to NULL and land in no
    shard silently (same contract as the hll/sketch family — the
    caller decides what a NULL document id means, not this layout).
    The salt travels as a literal (never spliced into a SQL string),
    so any characters — quotes included — are safe.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    _reject_reserved(df, "shard", "shard_rank", "start_offset", "__h")
    guard = F.assert_true(
        F.col(key_col).isNotNull(),
        F.lit(
            f"epoch_shard_shuffle: NULL in key column {key_col!r} — it would "
            "hash to NULL and land in no shard; filter or fill keys first"
        ),
    )
    h = F.when(
        guard.isNull(),  # always true; evaluating it raises on NULL keys
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    w = W.partitionBy("shard").orderBy(
        F.col("__h").asc_nulls_last(), F.col(key_col).asc_nulls_last()
    )
    cum_incl = F.sum(tokens_col).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        df.withColumn("__h", h)
        .withColumn("shard", F.col("__h") % n_shards)
        .withColumn("shard_rank", F.row_number().over(w))
        .withColumn("start_offset", cum_incl - F.col(tokens_col))
        .drop("__h")
    )


def temperature_thresholds(
    counts: DataFrame, *, strat_col: str, alpha: float, keep_fraction: float = 1.0
) -> DataFrame:
    """Temperature-weighted mixture thresholds, built in the plan:
    sampled share of stratum s is proportional to count(s)**alpha —
    the standard multilingual / multi-source rebalancing scheme
    (alpha=1 keeps natural proportions, alpha=0 equalizes strata,
    alpha~0.3 is the usual compromise).

    ``counts`` holds one row per stratum: ``strat_col`` and its row
    count ``n``. Returns ``strat_col``, the KEEP ``rate`` (total kept
    volume is ``keep_fraction`` of the corpus; scarce strata may get
    rates above 1 — epochs) and ``thresh``, the bucket bound
    ``ROUND(ROUND(rate, 4) * BUCKETS)``: rounding at 4 dp makes
    rate·BUCKETS integer-exact, so engines that differ in pow()'s last
    ulp still derive the same thresholds. Join it (broadcast — one row
    per stratum) on the stratum and keep ``bucket < thresh``. The two
    totals are windows over the whole count frame, so nothing is
    collected and building the plan starts no job.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    n = F.col("n")
    everything = W.partitionBy()
    total = F.sum(n).over(everything)
    wsum = F.sum("__w").over(everything)
    rate = F.when((n == 0) | (total == 0) | (wsum == 0), F.lit(0.0)).otherwise(
        F.lit(keep_fraction) * total * F.col("__w") / wsum / n
    )
    return (
        counts.withColumn("__w", F.when(n > 0, F.pow(n, F.lit(alpha))).otherwise(F.lit(0.0)))
        .select(strat_col, rate.alias("rate"))
        .withColumn("thresh", F.round(F.round("rate", 4) * BUCKETS).cast("bigint"))
    )
