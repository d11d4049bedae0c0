"""Physical-plan assertions: the 100 TB posture, checked in CI.

Correctness says the right rows come out; these tests pin HOW — that
filters and projections reach the parquet scan, small dimensions
broadcast instead of shuffling the fact side, global top-k compiles to
TakeOrderedAndProject (k per partition, never a full sort), and the
relational hot paths contain zero Python evaluation. A regression in
any of these would still pass the oracle checks while quietly becoming
a scale bottleneck — exactly the failure mode plan tests exist for.
"""

from __future__ import annotations

import os

import pytest

from etfconstituentextractor_spark.plans.registry import QUERIES, load_catalog

load_catalog()


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _published(name: str, sf_dir: str) -> str:
    """The published ``sources/derived.py`` layout ``name`` built from
    ``sf_dir``'s current tables (the newest, should several recipes
    share the temp dir)."""
    import glob
    import json
    import tempfile

    from etfconstituentextractor_spark.sources.derived import MANIFEST, table_fingerprint

    found = []
    for d in glob.glob(os.path.join(tempfile.gettempdir(), f"etfce_derived_u*_{name}_{'[0-9a-f]' * 16}")):
        try:
            with open(os.path.join(d, MANIFEST)) as fh:
                key = json.load(fh)["key"]
        except OSError:
            continue
        if key["sf_dir"] == sf_dir and all(
            table_fingerprint(sf_dir, t) == fp for t, fp in key["tables"].items()
        ):
            found.append(d)
    assert found, f"no published {name} layout for {sf_dir}"
    return max(found, key=os.path.getmtime)


def test_q01_filter_and_projection_reach_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 referenced columns — the 11-column lineitem scan must be pruned
    # (read from the scan's output attribute list; ReadSchema can be
    # truncated in toString output)
    i = plan.find("FileScan parquet [")
    cols = plan[i + len("FileScan parquet [") : plan.find("]", i)]
    assert cols.count(",") + 1 == 7, cols


def test_q04_filters_push_on_both_union_legs(spark, sf_dir):
    # merged q02+q04: the tagged union must not block pushdown — each
    # leg's conjuncts still reach its own parquet scan
    plan = _plan(spark, sf_dir, "q04_filter_family")
    assert "EqualTo(o_orderstatus,F)" in plan
    assert "GreaterThanOrEqual(p_size,10)" in plan
    assert "In(p_brand" in plan
    # pure scan-union: no shuffle anywhere in the plan
    assert "Exchange" not in plan


def test_q20_dimensions_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q20_join_star_revenue")
    # customer/nation/region broadcast; the lineitem<->orders join may
    # be SMJ or (with AQE at tiny SF) broadcast — but the fact side
    # must never appear on the build side of a broadcast exchange.
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 4


def test_global_topk_is_take_ordered(spark, sf_dir):
    """The 'global' leg of q40_topk_family (the former q38) must be
    TakeOrderedAndProject; a global Sort before the limit would be the
    scale bug this test exists to catch. Asserted on the isolated leg —
    inside the union the 'group' leg's window legitimately sorts."""
    from etfconstituentextractor_spark.plans.windows import global_topk
    from etfconstituentextractor_spark.sources.tables import load

    plan = (
        global_topk(load(spark, sf_dir, "orders"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # the only Sort allowed is the k-row window's sort AFTER the limit
    i = plan.find("TakeOrderedAndProject")
    assert "Sort [" not in plan[i:]


def test_q26_band_join_broadcasts_small_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q26_join_nonequi_family")
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q01_pricing_summary",
        "q20_join_star_revenue",
        "q30_agg_rollup_cube_gsets",
        "q44_window_frames",
        "q60_dedup_exact_family",
        "q62_dedup_minhash_lsh",
        "q80_text_stats",
        "q83_sample_stratified_mix",
    ],
)
def test_hot_paths_have_no_python_eval(spark, sf_dir, name):
    """Relational + LLM-text/dedup paths are built-ins only: no
    BatchEvalPython (row UDF) / ArrowEvalPython (pandas UDF) / Python
    map stages anywhere in their physical plans."""
    plan = _plan(spark, sf_dir, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{name}: unexpected {marker}"


def test_q50_prunes_before_udtf_boundary(spark, sf_dir):
    """The UDTF stage is opaque to Catalyst — the plan must show the
    explicit projection AND the pinned repartition feeding
    MapInPandas: an aggregate-built document index coalesces to ~1
    partition, which would serialize the Python parse onto one task."""
    plan = _plan(spark, sf_dir, "q50_doc_extract_holdings")
    assert "MapInPandas" in plan
    i = plan.find("MapInPandas")
    assert "hashpartitioning(filing_id" in plan[i:], plan[i : i + 800]


def test_q71_bucket_expr_contains_no_md5(spark, sf_dir):
    """q71's hyperplane signs are precomputed on the driver — the plan
    must not recompute md5 per (row, plane, dim)."""
    plan = _plan(spark, sf_dir, "q71_similarity_lsh_ann")
    assert "md5" not in plan.lower()


def test_q22_dpp_leg_injects_runtime_partition_filter(spark, sf_dir):
    """The registered 'dpp' leg must actually fire dynamic partition
    pruning — a runtime subquery filter on the partitioned orders
    scan — not just happen to compute the right rows (the whole point
    of registering the technique under the oracle)."""
    from etfconstituentextractor_spark.plans.joins import q22_join_shuffle_factfact

    df = q22_join_shuffle_factfact(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_q22_bucketed_fingerprint_cache(spark, sf_dir):
    """q22's bucketed leg amortizes its table writes behind a corpus
    fingerprint. The cache must be correctness-neutral: a cached
    second call returns the same rows, and a fingerprint whose DATA
    was deleted (tmp cleanup) must trigger a rewrite, never an empty
    bucketed scan."""
    import shutil

    from etfconstituentextractor_spark.plans.joins import q22_join_shuffle_factfact
    from etfconstituentextractor_spark.sources.derived import MANIFEST

    def rows():
        return sorted(
            map(tuple, q22_join_shuffle_factfact(spark, sf_dir).collect())
        )

    first = rows()
    base = _published("q22_tables", sf_dir)
    assert os.path.exists(os.path.join(base, MANIFEST))
    assert rows() == first  # cached-path call, same result
    # stale manifest with deleted data: must rewrite, not go empty
    shutil.rmtree(os.path.join(base, "lineitem"))
    assert rows() == first


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketing is the co-located-join tool at 100 TB: both sides
    bucketed by the join key -> sort-merge join with NO Exchange on
    either side (the shuffle happened once, at write time)."""
    from etfconstituentextractor_spark.plans.registry import QUERIES  # noqa: F401
    from etfconstituentextractor_spark.sources.tables import load
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_o")
    # a fresh derby metastore may not know tables whose warehouse dirs
    # survived a previous test process — clear the locations too
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_li", "b_o"):
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_li")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_o")

    # disable broadcast so the co-located SMJ is the observable plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_li").join(
            spark.table("b_o"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan[:1500]
    # and the result is right
    assert j.count() == li.count()


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting spreads a hot key over factor sub-partitions without
    changing the join's result."""
    from etfconstituentextractor_spark.operators.skew import salted_join
    from etfconstituentextractor_spark.sources.tables import load
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(o, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        salted_join(li, o, ["l_orderkey"], salt_from=F.col("l_linenumber"), factor=4)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_null_salt_and_left_join(spark):
    """A NULL salt_from value must not drop the row (it coalesces to
    salt 0)."""
    from etfconstituentextractor_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    probe = spark.createDataFrame(
        [(1, None), (1, 7), (2, 3), (3, 1)], "k int, salt_src int"
    )
    build = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")

    inner = salted_join(probe, build, ["k"], salt_from=F.col("salt_src"), factor=4)
    assert sorted(((r.k, r.salt_src, r.v) for r in inner.collect()), key=str) == sorted(
        [(1, None, "a"), (1, 7, "a"), (2, 3, "b")], key=str
    )


def test_connected_components_raises_on_truncation(spark):
    """A path graph of diameter > max_iter must raise, not return
    partially-propagated (wrong) labels."""
    import pytest
    from etfconstituentextractor_spark.operators.components import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "src int, dst int")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    labels = {r.node: r.component for r in connected_components(chain, max_iter=10).collect()}
    assert set(labels.values()) == {0}


def test_q72_ivf_broadcasts_centroids_and_queries(spark, sf_dir):
    """IVF scale posture: centroid and probe frames broadcast; the big
    vector side joins them without shuffling its vectors; no Python in
    the plan."""
    plan = _plan(spark, sf_dir, "q72_similarity_ivf_ann")
    assert plan.count("BroadcastExchange") >= 3  # centroids x2 + probe cells
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_fanout_pins_compute_parallelism(spark, sf_dir):
    """fanout (sources/tables.py) widens a narrow plan to cluster
    parallelism — the single-split documents scan would otherwise run
    every pre-shuffle HOF/hash stage (q62/q63/q80/q81 shingling,
    fingerprints) on ONE task — and leaves already-wide plans alone
    (at real scale scans have many splits; fanout must never add a
    shuffle there or reduce parallelism)."""
    from etfconstituentextractor_spark.sources.tables import fanout, load

    n = spark.sparkContext.defaultParallelism
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    assert d.rdd.getNumPartitions() < n  # precondition: narrow scan
    wide = fanout(d)
    assert wide.rdd.getNumPartitions() == n
    assert fanout(wide) is wide  # no-op on an already-wide plan


def test_q82_eval_ngrams_broadcast(spark, sf_dir):
    """The benchmark side of contamination detection must broadcast —
    shuffling the corpus's exploded n-grams to meet the (tiny) eval set
    would be the 100 TB bug. Also: Python-free plan."""
    plan = _plan(spark, sf_dir, "q82_text_contamination")
    assert "BroadcastHashJoin" in plan
    assert "BuildRight" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # single-shuffle corpus path: the fanout repartition on doc_id
    # below the join doubles as the final aggregation's partitioning,
    # so NOTHING between the plan root and the join may re-shuffle
    # (the region above the join is Project + partial/final
    # HashAggregate only)
    i = plan.find("BroadcastHashJoin")
    assert "Exchange" not in plan[:i], plan[:i]


def test_rate_sample_leg_is_pure_filter(spark, sf_dir):
    """The Bernoulli mixture leg is the at-scale sampling path: its
    whole plan must be scan -> filter/project with no Exchange, no
    window, no Python."""
    from etfconstituentextractor_spark.operators.sampling import hash_rate_sample
    from etfconstituentextractor_spark.plans.llm_sampling import MIX_RATES
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    plan = (
        hash_rate_sample(d, MIX_RATES, strat_col="lang", key_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("Exchange", "Window", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_quota_sample_prunes_before_shuffle(spark, sf_dir):
    """The quota leg's scale guarantee: Catalyst's rank-limit pushdown
    must plan a PARTIAL WindowGroupLimit below the Exchange (each map
    task keeps its local k smallest buckets per stratum), so the
    shuffle moves k·tasks rows per stratum, never the stratum."""
    from etfconstituentextractor_spark.operators.sampling import stratified_quota_sample
    from etfconstituentextractor_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    plan = (
        stratified_quota_sample(d, strat_col="lang", key_col="doc_id", k=25)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    i_partial = plan.find("WindowGroupLimit")
    assert i_partial != -1 and "Partial" in plan[plan.rfind("WindowGroupLimit") :], plan
    # Partial limit is BELOW (printed after) the Exchange; Final above
    i_exchange = plan.find("Exchange")
    assert i_exchange != -1
    assert plan.rfind("WindowGroupLimit") > i_exchange, plan


def test_q99_pipeline_is_python_free(spark, sf_dir):
    """The whole curation pipeline — all five gates — must plan as
    built-ins only: no Python evaluation anywhere. (Building this plan
    triggers the lsh_pairs localCheckpoint, so it also smoke-runs the
    pair stage.)"""
    plan = _plan(spark, sf_dir, "q99_curation_pipeline_e2e")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_aqe_splits_skewed_join(spark):
    """The session's AQE-skew claim (session.py: skewJoin.enabled),
    proven live: a join where one key holds 75% of the rows must
    re-plan at runtime with the hot partition SPLIT —
    SortMergeJoin(skew=true) over an 'AQEShuffleRead ... skewed' —
    instead of one straggler task. This is the no-code-change
    alternative to operators/skew.py's explicit salting; thresholds
    are lowered only to make test-sized data cross the skew bar."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    # Effective-value capture so the finally restore is unconditional
    # (get(k, None) would skip never-explicitly-set keys and leak the
    # test's -1 thresholds into later tests — see the runtime-bloom
    # test's comment). adaptive.autoBroadcastJoinThreshold has no
    # default value at all, so an unset read throws: restore that one
    # by unset.
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") < 150_000, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum("v").alias("s"))
        assert j.collect()[0].s == 11_249_925_000  # exact: sum over matched keys
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1200]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_sorted_layout_enables_rowgroup_skipping(spark, sf_dir, tmp_path):
    """The layout lever at 100 TB: clustering a table on its hot
    filter key lets parquet row-group min/max stats prune the scan.
    Same filter, same matches — the sorted copy's scan must OUTPUT a
    small fraction of the file while the unsorted copy reads it all
    (executed-plan scan metrics, not just the PushedFilters line).

    Caveat pinned while building this: Spark does NOT push
    TIMESTAMP_NTZ comparisons to parquet (a bigint/date/timestamp
    cluster key skips; an ntz one silently scans everything), so
    choose skippable types for cluster keys.
    """
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    sorted_p = str(tmp_path / "sorted")
    unsorted_p = str(tmp_path / "unsorted")
    # tiny row groups so even test-SF files hold many skippable groups
    (li.repartition(1).sortWithinPartitions("l_partkey")
       .write.option("parquet.block.size", 16 * 1024).parquet(sorted_p))
    (li.repartition(1)
       .write.option("parquet.block.size", 16 * 1024).parquet(unsorted_p))

    # a narrow in-range band: 25th-30th percentile of the key, so the
    # test holds at any SF (a fixed range fell outside sf0.001's keys)
    lo, hi = (int(x) for x in li.approxQuantile("l_partkey", [0.25, 0.30], 0.001))

    def scan_output(path):
        df = spark.read.parquet(path).filter(F.col("l_partkey").between(lo, hi))
        matches = df.count()
        df.collect()
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return leaf.metrics().apply("numOutputRows").value(), matches

    total = li.count()
    s_out, s_match = scan_output(sorted_p)
    u_out, u_match = scan_output(unsorted_p)
    assert s_match == u_match  # identical results either way
    assert u_out == total  # unsorted: stats are useless, full read
    assert s_out < total / 2, (s_out, total)  # sorted: most groups skipped


def test_runtime_bloom_filter_reduces_probe_side(spark, sf_dir):
    """Runtime row-level bloom filtering — the shuffle-reduction lever
    when the dimension is too big (or disabled) to broadcast: a
    selective filter on the build side must inject a
    bloom_filter_might_contain predicate onto the fact side's scan, so
    non-matching fact rows drop BEFORE the join shuffle. Thresholds
    lowered only so test-sized tables qualify; result equality against
    the bloom-disabled plan is asserted too (a bloom false-positive
    only wastes work, never changes rows)."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    # get WITHOUT a default reads the EFFECTIVE value (conf default
    # included) so the finally restores unconditionally — get(k, None)
    # returns None for never-explicitly-set keys and a conditional
    # restore would leak the test's settings into later tests (found
    # when this test ran alone before the catalog hygiene sweep: the
    # leaked -1 broadcast threshold turned q26's broadcast-NLJ leg
    # into a CartesianProduct).
    old = {k: spark.conf.get(k) for k in confs}

    def run():
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            F.round(F.sum("l_quantity"), 2).alias("s")
        )
        return j

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = run()
        with_bloom = j.collect()[0].s
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:1500]
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        without = run().collect()[0].s
        assert with_bloom == without
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q73_bm25_shape(spark, sf_dir):
    """BM25 scale posture, pinned on the operator plan (the registered
    query localCheckpoints the 60-row pool, which hides this subtree):
    corpus stats / document frequencies / query terms all broadcast
    (the fact side never shuffles to meet them); the per-query top-k
    gets the same Partial WindowGroupLimit pre-prune as the quota
    sample; no Python anywhere."""
    from etfconstituentextractor_spark.operators.retrieval import bm25_topk
    from etfconstituentextractor_spark.plans.llm_similarity import (
        BM25_QUERIES,
        RRF_POOL,
    )
    from etfconstituentextractor_spark.sources.tables import load as _load

    df = bm25_topk(_load(spark, sf_dir, "documents"), BM25_QUERIES, k=RRF_POOL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats frame
    i_exchange = plan.find("Exchange hashpartitioning(query_id")
    assert i_exchange != -1
    assert plan.rfind("WindowGroupLimit") > i_exchange, plan[:1200]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_q73_rrf_fused_shape(spark, sf_dir):
    """The fused query: exactly ONE documents scan end-to-end (the
    checkpointed pool feeds both the bm25 leg and the rrf union — a
    second scan would mean the checkpoint stopped reusing), the cosine
    side broadcasts the 3-row query frame, and no Python appears."""
    plan = _plan(spark, sf_dir, "q73_text_bm25_topk")
    assert plan.count("Scan ExistingRDD") >= 2  # pool reused, not recomputed
    assert plan.count("documents.parquet") == 0  # corpus scoring ran once, at checkpoint time
    assert "BroadcastExchange" in plan  # 3-row query frame broadcasts into the cross join
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_q84_pii_scrub_is_single_codegen_projection(spark, sf_dir):
    """The PII stage must ride the scan: zero Exchange, zero Python —
    the whole query is projections over one pruned customer scan."""
    plan = _plan(spark, sf_dir, "q84_pii_scrub")
    assert "Exchange" not in plan, plan[:800]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert plan.count("FileScan") == 1


def test_q85_packing_single_shuffle_never_moves_text(spark, sf_dir):
    """The layout family's plan contract: TWO exchanges total — the
    pack leg's per-lang layout window and the shard leg's per-shard
    epoch window; the chunk leg is pure codegen explode+slice and
    adds NONE. Each exchange's map-side projection computes n_tokens
    and drops the text column, so no shuffle ever carries text (the
    chunk leg touches text, but only scan-local)."""
    plan = _plan(spark, sf_dir, "q85_sequence_packing")
    assert plan.count("Exchange") == 2, plan[:1200]
    for anchor in ("Exchange hashpartitioning(lang", "Exchange hashpartitioning(shard"):
        i = plan.find(anchor)
        assert i != -1, anchor
        # the exchange's child projection (first Project under it)
        # computes the token count map-side and outputs no bare text
        j = plan.find("+- Project", i)
        assert j != -1
        project_line = plan[j : plan.find("\n", j)]
        # any text reference in the exchange's child projection must be
        # inside the map-side size(split(...)) count (the shard leg's
        # projection has already dropped text a level deeper → zero)
        assert project_line.count("text#") == project_line.count(
            "size(split(text#"
        ), project_line
    # the pack leg computes the token count map-side of ITS exchange
    assert "size(split(text#" in plan


def test_q81_cms_leg_reuses_checkpointed_counts(spark, sf_dir):
    """q81's wstats frame feeds three consumers (word leg, CMS
    read-out, total-occurrence scalar); the localCheckpoint turns all
    of them into RDD scans. Pin the documents FileScan count at 4
    (total-docs agg + the bpe leg's two token frames + the word-leg
    tokenization that SEEDS the checkpoint) so a refactor that drops
    the checkpoint — re-scanning documents once per consumer — fails
    here instead of tripling the corpus reads at 100 TB."""
    plan = _plan(spark, sf_dir, "q81_text_token_counts")
    assert plan.count("FileScan parquet") == 4, plan.count("FileScan parquet")
    assert plan.count("Scan ExistingRDD") >= 3  # checkpointed wstats consumers


def test_q86_snapshot_diff_shuffles_hashes_only(spark, sf_dir):
    """CDC scale posture, both legs: every snapshot reduces to (key,
    [version,] md5) BEFORE any exchange — hash projections are
    map-side everywhere, so no shuffle in the family ever carries
    document text."""
    import re

    plan = _plan(spark, sf_dir, "q86_snapshot_diff")
    i = plan.find("SortMergeJoin")
    assert "FullOuter" in plan[i : i + 120]
    # diff leg: 2 exchanges into the full-outer join; scd2 leg: the
    # keyed window + interval-collapse exchanges over narrow rows;
    # mv leg (round 7): the base aggregate + delta join + apply join,
    # all on (lang | doc_id, hash, one bigint) rows; timetravel legs
    # (round 8): one per-lang aggregate exchange per snapshot version
    # (3), each over (lang, count, chars) rows only; prune leg
    # (round 9): two more per-lang aggregate exchanges — the
    # stats-pruned read and the merged-table read — same narrow
    # (lang, count, chars) shape; dv leg (round 10): one more per-lang
    # aggregate exchange + the deletion-vector BroadcastExchange (the
    # (file key, row position) coordinates — ~70-byte rows, bounded by
    # deleted-row count, and the data side never shuffles for it);
    # cdf leg (round 10): the incremental feed's keyed full-outer
    # diff, both sides reduced to (key, md5) map-side as ever (the
    # empty added-side is a LocalRelation, whose diff join exchanges
    # both tiny sides rather than broadcasting); restore leg
    # (round 11): one more per-lang aggregate exchange over the
    # rolled-back head — same narrow (lang, count, chars) shape
    assert 2 <= plan.count("Exchange") <= 22, plan[:1200]
    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)
    hash_projects = re.findall(r"Project \[[^\n]*md5\(", plan)
    assert len(hash_projects) >= 3, hash_projects


def test_q23_merge_still_plans_all_four_join_types(spark, sf_dir):
    """The q23/q24 consolidation is a tagged union, not a rewrite: the
    plan must still contain genuine right/full-outer null-extension
    AND LeftSemi/LeftAnti joins (the build side stays a key set)."""
    plan = _plan(spark, sf_dir, "q23_join_outer_semi_anti")
    assert "FullOuter" in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q64_blocked_pairwise_is_jvm_side(spark, sf_dir):
    """q64's within-block all-pairs cosine must stay whole-stage JVM
    work: the label-block join with no Python evaluation — the 64-dim
    dot products run as codegen higher-order functions."""
    plan = _plan(spark, sf_dir, "q64_dedup_embedding_cosine")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_q70_int8_leg_broadcasts_quantized_queries(spark, sf_dir):
    """Round-5 int8 leg scale posture: BOTH legs broadcast the tiny
    query side (candidates never shuffle to meet queries), and the
    quantize + integer-dot arithmetic stays JVM-side codegen — zero
    Python evaluation anywhere in q70."""
    plan = _plan(spark, sf_dir, "q70_similarity_topk_cosine")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan[:1500]


def test_q81_bpe_leg_broadcasts_vocab_and_never_shuffles_text(spark, sf_dir):
    """Round-5 bpe leg scale posture: the word->pieces dictionary
    joins back via broadcast (per-merge folds run over DISTINCT words,
    never the corpus), and no exchange partitions on the raw text
    column — the corpus shuffles only as (doc_id, pos, word/pieces)
    rows."""
    plan = _plan(spark, sf_dir, "q81_text_token_counts")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan
    ensure = [l for l in plan.splitlines() if "ENSURE_REQUIREMENTS" in l]
    assert ensure and not any("text#" in l for l in ensure), ensure


def test_q64_oversized_label_blocks_are_prefiltered(spark, sf_dir):
    """The q64 block cap must act BEFORE the pair join: the plan
    aggregates per-label counts and semi-joins the kept labels back via
    broadcast, so an oversized block's vectors never reach the
    quadratic join."""
    plan = _plan(spark, sf_dir, "q64_dedup_embedding_cosine")
    i = plan.find("BroadcastHashJoin")
    assert i >= 0, plan[:1200]
    assert "count(1)" in plan  # the HAVING-count guard frame


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Scale-technique proof: joining a partition-layout fact table to
    a dim filtered on a NON-partition attribute must inject a runtime
    partition filter into the fact scan (dynamic partition pruning) —
    at 100 TB this is the difference between scanning 2 partitions and
    scanning all of them. Static pruning can't do it (the kept keys
    are only known after the dim filter runs)."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load

    fact_dir = str(tmp_path / "fact")
    dim_dir = str(tmp_path / "dim")
    load(spark, sf_dir, "orders").withColumn(
        "bucket", (F.col("o_custkey") % 8).cast("int")
    ).write.partitionBy("bucket").parquet(fact_dir)
    spark.createDataFrame(
        [(b, "keep" if b in (2, 5) else "drop") for b in range(8)],
        "bucket int, tag string",
    ).write.parquet(dim_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("tag") == "keep")
    joined = fact.join(dim, "bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    want = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_custkey") % 8).isin(2, 5))
        .agg(F.count(F.lit(1)), F.sum("o_totalprice"))
        .collect()[0]
    )
    got = joined.collect()[0]
    # sum over doubles: summation order differs between the pruned and
    # reference plans — compare at cent precision
    assert got.n == want[0] and round(got.s, 2) == round(want[1], 2)


def test_catalog_wide_plan_hygiene(spark, sf_dir):
    """Sweep EVERY registered batch query's physical plan for the two
    red flags that silently kill a 100 TB run: an unbroadcast
    CartesianProduct (all-pairs across the cluster) and row-at-a-time
    Python evaluation (BatchEvalPython) on a hot path. Streaming
    queries are excluded — their query functions materialize real
    replays on call; their plans are pinned individually in
    test_stateful_streaming.py. q90 keeps BatchEvalPython by design
    (it IS the deliberate scalar-UDF-vs-pandas-UDF contrast), and q91's
    Python @udtf plans as BatchEvalPython too — that query IS the
    Python-UDTF surface demonstration."""
    skip = {n for n in QUERIES if "_stream_" in n}
    python_ok = {"q90_udf_scalar_pandas", "q91_udtf_udaf"}
    offenders = []
    for name in sorted(QUERIES):
        if name in skip:
            continue
        plan = _plan(spark, sf_dir, name)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan and name not in python_ok:
            offenders.append((name, "BatchEvalPython"))
    assert not offenders, offenders



def test_q90_build_warns_nothing(spark, sf_dir):
    """q90's row-at-a-time UDF names its eval type: without it PySpark
    tries to infer one from the function's plain type hints and warns
    on every build."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = QUERIES["q90_udf_scalar_pandas"](spark, sf_dir)
    assert not [w for w in caught if "eval type" in str(w.message)], [
        str(w.message) for w in caught
    ]
    assert "BatchEvalPython" in df._jdf.queryExecution().executedPlan().toString()

def test_q27_single_asof_pass(spark, sf_dir):
    """q27's 1-hour tolerance is a predicate over its one as-of carry:
    a single union of the two pushed-filter event scans, ONE exchange
    on user_id feeding ONE window, and no join back on purchase_id (a
    second as-of pass would add a window, an exchange and a join)."""
    plan = _plan(spark, sf_dir, "q27_join_asof")
    nodes = [ln.lstrip(" :+-").split(" ", 1)[0] for ln in plan.splitlines()]
    assert nodes.count("Window") == 1, plan
    assert nodes.count("Exchange") == 1, plan
    for absent in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastExchange"):
        assert absent not in nodes, plan


def test_q01_sorts_without_range_exchange(spark, sf_dir):
    """q01's final sort runs in one task over the coalesced aggregate:
    no range exchange (and no sampling job for its bounds), only the
    aggregate's hash exchange."""
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "rangepartitioning" not in plan, plan
    nodes = [ln.lstrip(" :+-").split(" ", 1)[0] for ln in plan.splitlines()]
    assert nodes.count("Exchange") == 1, plan


def test_q44_rank_trio_adds_no_exchange(spark, sf_dir):
    """All of q44's window families — running frames, lag/lead, and
    the round-6 ntile/percent_rank/cume_dist trio — share one
    (user_id | ts, event_id) partition+sort, so Catalyst plans exactly
    ONE exchange for the whole query."""
    plan = _plan(spark, sf_dir, "q44_window_frames")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]


def test_q86_prune_leg_plans_fewer_files(spark, sf_dir):
    """q86's 'prune' leg must actually SKIP files via the manifest's
    doc_id stats: v0/v1 data files are provably empty for
    doc_id >= 2*shift (hash-partitioned writes span the whole base
    range, so their max < 2*shift), leaving only v2's appended late
    files in the plan."""
    from etfconstituentextractor_spark.plans.llm_refresh import (
        _INSERT_SHIFT,
        q86_snapshot_diff,
    )
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_read

    # building the table is a side effect of the query (fingerprint-
    # cached, so this is cheap when q86 already ran this session)
    q86_snapshot_diff(spark, sf_dir).write.format("noop").mode("overwrite").save()
    import glob

    tbl = os.path.join(_published("q86_timetravel", sf_dir), "table")
    assert glob.glob(os.path.join(tbl, "_manifests", "*.json"))
    full = snapshot_read(spark, tbl, 2)
    pruned = snapshot_read(spark, tbl, 2, where=("doc_id", ">=", 2 * _INSERT_SHIFT))
    assert len(pruned.inputFiles()) < len(full.inputFiles()), (
        len(pruned.inputFiles()),
        len(full.inputFiles()),
    )
    # and the pruned read is exactly the late slice
    assert pruned.count() == full.filter(f"doc_id >= {2 * _INSERT_SHIFT}").count()


def test_q86_dv_leg_is_merge_on_read(spark, sf_dir):
    """q86's 'dv' leg reads v3 = a positional-deletion-vector DELETE:
    the manifest's data file list must be UNCHANGED from v2 (no
    rewrite — the merge-on-read contract) while the read masks
    exactly the deleted range, and v2 still time-travels to the
    pre-delete rows."""
    import json

    from etfconstituentextractor_spark.plans.llm_refresh import (
        _DV_DELETE_LT,
        q86_snapshot_diff,
    )
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_read

    q86_snapshot_diff(spark, sf_dir).write.format("noop").mode("overwrite").save()
    tbl = os.path.join(_published("q86_timetravel", sf_dir), "table")
    m2 = json.load(open(os.path.join(tbl, "_manifests", "v00000002.json")))
    m3 = json.load(open(os.path.join(tbl, "_manifests", "v00000003.json")))
    assert m3["op"] == "delete" and m3["files"] == m2["files"]
    assert sum(m3["dv"]["files"].values()) > 0
    v2, v3 = snapshot_read(spark, tbl, 2), snapshot_read(spark, tbl, 3)
    assert v3.filter(f"doc_id < {_DV_DELETE_LT}").count() == 0
    assert v2.filter(f"doc_id < {_DV_DELETE_LT}").count() > 0
    assert v3.count() == v2.filter(f"doc_id >= {_DV_DELETE_LT}").count()
    # the 'cdf' leg's incremental feed scans only the DV-grown files
    # (v1 is range-laid on doc_id, so the deleted low range lives in
    # one file) — not the whole version
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_changes,
    )

    feed = snapshot_changes(spark, tbl, 2, 3, keys=["doc_id"])
    assert 0 < len(feed.inputFiles()) < len(v2.inputFiles()), (
        len(feed.inputFiles()),
        len(v2.inputFiles()),
    )
