"""Sequence packing: assign documents to fixed-token-budget training
sequences — the step between a curated corpus and a token pipeline
(every pretraining run packs documents into constant-length examples).

No reference counterpart; SURVEY.md §2B "LLM-pipeline" tier.

True first-fit bin packing is inherently sequential; the scalable
formulation is *sequential fill in a deterministic order*: lay the
documents end-to-end along a reproducible order (hash of the key, so
re-runs pack identically and strata mix well) and cut every `budget`
tokens. A document is assigned to the bin its STARTING offset falls
in, so a bin can overflow by at most one document's tokens — exactly
the slack real packers handle by truncating or padding the boundary
document. Oversized documents (> budget) get bins of their own by
construction.

Plan shape: one window over the packing order — a single shuffle on
the (optional) stratum key carrying (key, n_tokens) pairs, never
text; the cumulative sum and bin arithmetic are codegen scalars. At
100 TB, partition the packing by stratum/shard (each shard packs
independently — training shards are independent files anyway), which
is exactly the `strat_col` parameter.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.sampling import hash_bucket


def pack_sequences(
    df: DataFrame,
    budget: int,
    *,
    strat_col: Optional[str] = None,
    salt: str = "pack",
) -> DataFrame:
    """Append packing columns to (doc_id, n_tokens, ...) rows:
    ``pack_order`` (position in the deterministic layout),
    ``start_offset`` (tokens before this doc), ``bin_id``
    (floor(start_offset / budget), per stratum when ``strat_col`` is
    given).

    Deterministic: the layout orders by (md5 bucket, doc_id), so the
    same corpus always packs into the same bins regardless of
    partitioning or cluster size.

    ``strat_col=None`` means ONE global layout — an unpartitioned
    window that drags everything through a single partition. That is
    fine for a test fixture or one training shard; at corpus scale
    always pass the shard/stratum column (each shard packs
    independently and in parallel, and training shards are
    independent files anyway).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    parts: list[Column] = [F.col(strat_col)] if strat_col else []
    w = W.partitionBy(*parts).orderBy(
        hash_bucket("doc_id", salt).asc_nulls_last(), F.col("doc_id").asc_nulls_last()
    )
    cum_incl = F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        df.withColumn("pack_order", F.row_number().over(w))
        .withColumn("start_offset", cum_incl - F.col("n_tokens"))
        .withColumn("bin_id", F.floor(F.col("start_offset") / budget))
    )


