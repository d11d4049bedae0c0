"""Join family (SURVEY.md §2B "Joins" — all absent from the reference,
whose only fan-out is a sequential driver-side loop,
ETFQuarterlyHoldingsExtractor.py:153-158).

Scale posture per query:
- dimension tables (region/nation/supplier/part at TPC-H ratios) are
  broadcast — no shuffle of the fact side;
- fact-fact joins (lineitem ⋈ orders) shuffle on the join key and are
  exactly the joins AQE re-plans at runtime (skew split, SMJ↔SHJ);
- non-equi joins avoid the naive BroadcastNestedLoopJoin blowup by
  pre-joining on a coarse equi-bucket wherever the predicate allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etfconstituentextractor_spark.functions.parity import dec, dsum
from etfconstituentextractor_spark.operators.asof import asof_join, within_tolerance
from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import load


# ---------------------------------------------------------------------------
# q20 — the star-schema revenue rollup (TPC-H-Q5-shaped): fact table
# joined through 4 dimensions to region, revenue per nation.
# lineitem⋈orders shuffles; customer/nation/region broadcast (AQE picks
# this automatically at these sizes; broadcast() pins the intent).
# ---------------------------------------------------------------------------
@query(
    "q20_join_star_revenue",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,4))
                          * CAST(1 - l_discount AS DECIMAL(8,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
      AND o_orderdate >= TIMESTAMP '1993-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q20_join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1993-01-01 00:00:00").cast("timestamp_ntz")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    revenue = dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# q22 — the fact-fact join-STRATEGY family, tagged legs (round-8): the
# same lineitem⋈orders aggregate computed under each of the shuffle
# disciplines a 1000-executor cluster actually chooses between —
#   'plain'    sort-merge shuffle join, AQE re-plans (skew split, SMJ↔SHJ);
#   'salted'   explicit key salting (operators/skew.py) for the hot-key
#              case AQE can't fix (build side replicated factor×);
#   'bloom'    semi-join reduction (operators/bloom.py): build-side key
#              set broadcast as a Bloom filter, probe rows that cannot
#              match dropped BEFORE the shuffle — the move when the
#              build side exceeds broadcast size but its keys fit KBs;
#   'bucketed' co-located bucketBy tables: both sides pre-hashed into
#              the same 8 buckets at write time, the join reads
#              bucket-aligned and needs NO exchange at all (pinned in
#              tests/test_plans.py) — the amortize-the-shuffle-once
#              answer for a fact table joined every day at 100 TB;
#   'dpp'      dynamic partition pruning (round-8 continuation):
#              orders laid out partitionBy(o_orderpriority), joined to
#              a dim filtered on a NON-partition attribute — the
#              runtime subquery prunes the fact scan to the surviving
#              partitions (1 of 5 here), which static pruning cannot
#              do because the kept keys exist only after the dim
#              filter runs. At 100 TB this is the difference between
#              scanning one day-partition and scanning the table.
# Every leg must hash-match the one plain-SQL join under the oracle:
# salting, Bloom false positives, and bucketing are all result-
# invariant by construction, and this leg family is what pins that.
# ---------------------------------------------------------------------------
@query(
    "q22_join_shuffle_factfact",
    oracle="""
    WITH j AS (
      SELECT o_orderpriority,
             COUNT(*) AS n_lines,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate
      GROUP BY o_orderpriority
    )
    SELECT 'plain' AS leg, o_orderpriority, n_lines, sum_price FROM j
    UNION ALL
    SELECT 'salted' AS leg, o_orderpriority, n_lines, sum_price FROM j
    UNION ALL
    SELECT 'bucketed' AS leg, o_orderpriority, n_lines, sum_price FROM j
    UNION ALL
    SELECT 'bloom' AS leg, o_orderpriority, n_lines, sum_price
    FROM j WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'dpp' AS leg, o_orderpriority, n_lines, sum_price
    FROM j WHERE o_orderpriority = '2-HIGH'
    """,
)
def q22_join_shuffle_factfact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from etfconstituentextractor_spark.operators.bloom import bloom_reduced_join
    from etfconstituentextractor_spark.operators.skew import salted_join
    from etfconstituentextractor_spark.sources.derived import derived

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def agg_leg(joined: DataFrame, leg: str) -> DataFrame:
        return (
            joined.filter(F.col("l_shipdate") > F.col("o_orderdate"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                dsum(dec("l_extendedprice"), "sum_price"),
            )
            .select(F.lit(leg).alias("leg"), "o_orderpriority", "n_lines", "sum_price")
        )

    plain = agg_leg(li.join(o, li.l_orderkey == o.o_orderkey), "plain")

    # Salted: orders' key renamed to the probe's so (key, salt) is the
    # equi-join tuple; salt from crc32(l_linenumber) (NOT the key —
    # salting the key's own hash would undo the spread; and NOT
    # l_linenumber raw, whose 1..7 range never fills salt bucket 0 at
    # factor 8, wasting 1/8 of the build replication).
    o_k = o.withColumnRenamed("o_orderkey", "l_orderkey")
    salted = agg_leg(
        salted_join(
            li,
            o_k,
            ["l_orderkey"],
            salt_from=F.crc32(F.col("l_linenumber").cast("string")),
            factor=8,
        ),
        "salted",
    )

    # Bloom: the selective-build case — only urgent orders can match,
    # so ~80% of lineitem is provably joinless and never shuffles.
    # Sized from the build side's own count (one control-plane job over
    # the filtered dim scan — the stand-in for reading table stats) at
    # fpp 1%, the right rate for semi-join REDUCTION: a false positive
    # only rides the shuffle and dies at the join, so paying 13 hash
    # probes per row for 1e-4 buys nothing over 7 probes for 1e-2.
    # Past the operator's 64M-bit cap (~7M urgent keys, corpus sf>~23)
    # the documented fallback applies: the leg degrades to the plain
    # join — result-identical by the family's own invariant, just
    # without the shuffle reduction.
    urgent = o_k.filter(F.col("o_orderpriority") == "1-URGENT")
    try:
        bloom_join = bloom_reduced_join(
            li,
            urgent,
            ["l_orderkey"],
            n_items_hint=max(64, urgent.count()),
            fpp=1e-2,
        )
    except ValueError as e:
        if "64M-bit cap" not in str(e):
            raise  # type-mismatch/misuse is a bug, not a size fallback
        bloom_join = li.join(urgent, ["l_orderkey"])
    bloom = agg_leg(bloom_join, "bloom")

    # Bucketed: both sides as bucketBy(8, key) external tables
    # (projected to the columns the query needs), joined bucket-aligned
    # — NO exchange at all. The write is the once-a-day cost the daily
    # joins amortize, and the code says so: the tables are a
    # corpus-fingerprinted sources/derived.py layout, written only
    # when the corpus changed — repeat calls in a fresh session
    # re-DECLARE the bucket spec over the existing files (DDL only, no
    # data movement), exactly how a persistent metastore would carry
    # it. That makes the measured steady-state cost the read-side
    # one, which is the operator's actual claim.
    #
    # DPP: orders partitioned by o_orderpriority on disk, dim filtered
    # on its NON-partition tag column — only the runtime subquery can
    # prune the fact scan. Same layout, same fingerprint.
    specs = [
        ("li", li.select("l_orderkey", "l_shipdate", "l_extendedprice"), "l_orderkey", "lineitem"),
        ("o", o.select("o_orderkey", "o_orderdate", "o_orderpriority"), "o_orderkey", "orders"),
    ]

    def build(dest):
        # bucketBy needs saveAsTable: write through a throwaway
        # external table whose files land in the build dir, then drop
        # it (its files stay) — the published dir is declared below
        for short, df, key, sub in specs:
            tmp_t = f"etfce_bkt_build_{short}_{os.getpid()}"
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(dest, sub))
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tmp_t)
            )
            spark.sql(f"DROP TABLE IF EXISTS {tmp_t}")
        o.write.partitionBy("o_orderpriority").parquet(os.path.join(dest, "orders_part"))
        (
            o.select("o_orderpriority")
            .distinct()
            .select(
                "o_orderpriority",
                F.when(F.col("o_orderpriority") == "2-HIGH", "keep")
                .otherwise("drop")
                .alias("tag"),
            )
            .write.parquet(os.path.join(dest, "prio_dim"))
        )

    base = derived("q22_tables", sf_dir, ["lineitem", "orders"], {"buckets": 8}, build)
    # re-declared per call: the layout may have been rebuilt at the same
    # path, and a session's cached table would keep its old file list
    for short, df, key, sub in specs:
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        spark.sql(f"DROP TABLE IF EXISTS etfce_bkt_{short}")
        spark.sql(
            f"CREATE TABLE etfce_bkt_{short} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
            f"LOCATION '{os.path.join(base, sub)}'"
        )
    li_b, o_b = spark.table("etfce_bkt_li"), spark.table("etfce_bkt_o")
    bucketed = agg_leg(li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey), "bucketed")

    fact = spark.read.parquet(os.path.join(base, "orders_part")).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"
    )
    dim = (
        spark.read.parquet(os.path.join(base, "prio_dim"))
        .filter(F.col("tag") == "keep")
        .select("o_orderpriority")
    )
    dpp = agg_leg(
        li.join(fact, ["l_orderkey"]).join(F.broadcast(dim), ["o_orderpriority"]),
        "dpp",
    )

    return (
        plain.unionByName(salted)
        .unionByName(bucketed)
        .unionByName(bloom)
        .unionByName(dpp)
    )


# ---------------------------------------------------------------------------
# q23 — the outer-join family in one plan: a RIGHT outer join (orders
# RIGHT JOIN customer — every customer survives, including zero-order
# ones), aggregated per nation, then FULL OUTER reconciled against the
# supplier-side aggregate (nations may have customers, suppliers, or
# either alone). LEFT is the mirror of the RIGHT spelling; all three
# null-extension semantics are exercised and visible in the output.
# ---------------------------------------------------------------------------
@query(
    "q23_join_outer_semi_anti",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey AS nationkey,
             COUNT(DISTINCT c_custkey) AS n_cust,
             COUNT(o_orderkey) AS n_orders,
             CAST(ROUND(SUM(CAST(coalesce(o_totalprice, 0) AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_total
      FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ),
    supp AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT 'outer' AS leg,
           coalesce(cust.nationkey, supp.nationkey) AS k,
           coalesce(n_cust, 0) AS n_a,
           coalesce(n_orders, 0) AS n_b,
           coalesce(sum_total, 0.0) AS sum_val,
           coalesce(n_supp, 0) AS n_c
    FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
    UNION ALL
    SELECT CASE WHEN has_order THEN 'semi' ELSE 'anti' END,
           CAST(has_order AS BIGINT), COUNT(*), 0,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,4))), 2) AS DOUBLE), 0
    FROM (
      SELECT c.*, EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_order
      FROM customer c
    )
    GROUP BY has_order
    """,
)
def q23_join_outer_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union (consolidated from the former q23+q24 pair —
    round-4 registry budget): the 'outer' leg exercises right + full
    outer null-extension; the 'semi'/'anti' legs exercise EXISTS / NOT
    EXISTS — Spark still plans genuine LeftSemi/LeftAnti joins (the
    build side is just a key set; the probe streams at scale)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.countDistinct("c_custkey").alias("n_cust"),
            F.count("o_orderkey").alias("n_orders"),
            dsum(dec(F.coalesce("o_totalprice", F.lit(0))), "sum_total"),
        )
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    outer = cust.join(supp, "nationkey", "full").select(
        F.lit("outer").alias("leg"),
        F.col("nationkey").alias("k"),
        F.coalesce("n_cust", F.lit(0)).alias("n_a"),
        F.coalesce("n_orders", F.lit(0)).alias("n_b"),
        F.coalesce("sum_total", F.lit(0.0)).alias("sum_val"),
        F.coalesce("n_supp", F.lit(0)).alias("n_c"),
    )
    with_o = c.join(o, c.c_custkey == o.o_custkey, "left_semi").withColumn(
        "has_order", F.lit(True)
    )
    without_o = c.join(o, c.c_custkey == o.o_custkey, "left_anti").withColumn(
        "has_order", F.lit(False)
    )
    semi_anti = (
        with_o.unionByName(without_o)
        .groupBy("has_order")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(dec("c_acctbal"), "sum_bal"),
        )
        .select(
            F.when(F.col("has_order"), "semi").otherwise("anti").alias("leg"),
            F.col("has_order").cast("bigint").alias("k"),
            F.col("n_customers").alias("n_a"),
            F.lit(0).cast("bigint").alias("n_b"),
            F.col("sum_bal").alias("sum_val"),
            F.lit(0).cast("bigint").alias("n_c"),
        )
    )
    return outer.unionByName(semi_anti)


# ---------------------------------------------------------------------------
# q26 — non-equi join family in one tagged plan (consolidated from the
# former q25/q26 pair — round-3 registry budget):
# - 'band' leg: theta/range join classifying each lineitem into a
#   price band. The bands table is tiny → broadcast nested loop is the
#   right plan; for large×large range joins see q28's bucketed
#   interval join.
# - 'cross' leg: explicit crossJoin (small × small only; a guarded
#   operator at scale), emitted row-per-pair so the oracle verifies
#   the exact pair set.
# ---------------------------------------------------------------------------
_BANDS = [
    ("low", 0.0, 20000.0),
    ("mid", 20000.0, 60000.0),
    ("high", 60000.0, 1e18),
]


@query(
    "q26_join_nonequi_family",
    oracle="""
    SELECT 'band' AS leg, band AS k, COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_price
    FROM lineitem
    JOIN (VALUES ('low', 0.0, 20000.0), ('mid', 20000.0, 60000.0), ('high', 60000.0, 1e18))
         b(band, lo, hi)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    UNION ALL
    SELECT 'cross', r.r_name || '/' || n.n_name,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM region r CROSS JOIN nation n
    WHERE r.r_regionkey <> n.n_regionkey
    """,
)
def q26_join_nonequi_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    band_leg = (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(dec("l_extendedprice"), "sum_price"),
        )
        .select(F.lit("band").alias("leg"), F.col("band").alias("k"), "n_lines", "sum_price")
    )
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    cross_leg = (
        r.crossJoin(n)
        .filter(F.col("r_regionkey") != F.col("n_regionkey"))
        .select(
            F.lit("cross").alias("leg"),
            F.concat("r_name", F.lit("/"), "n_name").alias("k"),
            F.lit(None).cast("bigint").alias("n_lines"),
            F.lit(None).cast("double").alias("sum_price"),
        )
    )
    return band_leg.unionByName(cross_leg)


# ---------------------------------------------------------------------------
# q27 — as-of join: for every purchase event, the most recent prior (or
# simultaneous) click by the same user. Implemented distributedly in
# operators/asof.py (union + last() over an ordered window — one shuffle
# on the key, no per-group pandas); oracle is DuckDB's native ASOF JOIN.
# The 1-hour tolerance is a predicate over that single carry
# (asof.within_tolerance), not a second as-of pass: for a backward
# as-of the only candidate inside the tolerance window is the overall
# last match, so the oracle's gap CASE over the native ASOF result and
# the F.when over the carried click coincide. Plan: one union of two
# pushed-filter scans, one Exchange on user_id, one Sort, one Window.
# ---------------------------------------------------------------------------
@query(
    "q27_join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           p.ts AS purchase_ts,
           c.ts AS last_click_ts,
           c.event_id AS last_click_id,
           CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN c.ts END AS click_ts_1h,
           CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN c.event_id END AS click_id_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q27_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    carried = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        right_payload={"last_click_ts": "click_ts", "last_click_id": "click_id"},
    )
    in_1h = within_tolerance("purchase_ts", "last_click_ts", F.expr("INTERVAL 1 HOUR"))
    return carried.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "last_click_ts",
        "last_click_id",
        F.when(in_1h, F.col("last_click_ts")).alias("click_ts_1h"),
        F.when(in_1h, F.col("last_click_id")).alias("click_id_1h"),
    )


# ---------------------------------------------------------------------------
# q28 — interval-overlap join: user activity intervals (per event_type)
# that overlap between two types for the same user. The per-user span
# table is tiny (≤ types² rows per user), so the plain equi-join on
# user + overlap predicate is the right plan, and the one kept on
# purpose: no registered query joins large×large intervals without an
# equi key, which is what a coarse-bucket equi-prejoin would be for.
# ---------------------------------------------------------------------------
@query(
    "q28_join_interval_overlap",
    oracle="""
    WITH spans AS (
      SELECT user_id, event_type, min(ts) AS t_start, max(ts) AS t_end
      FROM events GROUP BY user_id, event_type
    )
    SELECT a.user_id AS user_id, a.event_type AS type_a, b.event_type AS type_b
    FROM spans a JOIN spans b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
     AND a.t_start <= b.t_end AND b.t_start <= a.t_end
    """,
)
def q28_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    a = spans.alias("a")
    b = spans.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type"))
            & (F.col("a.t_start") <= F.col("b.t_end"))
            & (F.col("b.t_start") <= F.col("a.t_end")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
