"""Leakage-safe split operator (operators/splits.py): group-level
assignment, cross-engine hash agreement, NULL/validation guards."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.splits import (
    leakage_safe_split,
    split_bucket,
    sql_split_bucket,
)


def test_split_constant_within_group_and_fractions(spark):
    # 400 docs in 100 groups of 4: every group lands wholly in one
    # split, and the realized mix is in the right ballpark
    df = spark.range(400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 100).alias("grp")
    )
    out = leakage_safe_split(df, "grp", salt="t").toPandas()
    per_group = out.groupby("grp")["split_id"].nunique()
    assert (per_group == 1).all(), "split varies within a group"
    counts = out.groupby("split_id")["doc_id"].count()
    # 80/10/10 with 100 groups: loose bounds, deterministic data
    assert counts.get(0, 0) > counts.get(1, 0)
    assert counts.get(0, 0) > counts.get(2, 0)
    assert set(counts.index) <= {0, 1, 2}


def test_split_bucket_matches_duckdb(spark):
    groups = [0, 1, 7, 42, 999_999_999, 123456789012]
    df = spark.createDataFrame([(g,) for g in groups], "grp bigint")
    got = {
        r["grp"]: r["b"]
        for r in df.select("grp", split_bucket(F.col("grp"), "xyz").alias("b")).collect()
    }
    con = duckdb.connect()
    try:
        for g in groups:
            want = con.execute(
                f"SELECT {sql_split_bucket(str(g), 'xyz')}"
            ).fetchone()[0]
            assert got[g] == want, (g, got[g], want)
    finally:
        con.close()


def test_split_null_group_raises(spark):
    df = spark.createDataFrame([(1, None)], "doc_id bigint, grp bigint")
    out = leakage_safe_split(df, "grp")
    with pytest.raises(Exception, match="NULL grp"):
        out.collect()


def test_split_validation():
    import pandas as pd

    with pytest.raises(ValueError, match="quotes"):
        split_bucket(F.lit(1), "bad'salt")
    with pytest.raises(ValueError, match="quotes"):
        sql_split_bucket("g", 'bad"salt')


def test_split_is_pure_codegen(spark):
    # zero exchanges: the split is a projection over labeled rows
    df = spark.range(10).select(F.col("id").alias("g"))
    plan = leakage_safe_split(df, "g")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
